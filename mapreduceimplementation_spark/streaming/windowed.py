"""D1: tumbling-window streaming counts (Structured Streaming).

The batch plan B7 (plans/events.py events_minutely) re-run as a stream:
file readStream → event-time tumbling window + watermark → memory sink,
driven to completion with trigger(availableNow).  In production the same
query runs unmodified against a Kafka/file source with a real trigger —
availableNow is Spark's official backfill/batch-replay mode, so this IS
the deployment plan, not a test harness.

Streaming aggregation restrictions: count(DISTINCT) is unsupported in
streaming, so unlike B7 this emits (n_events, total_value) only.  The sum
uses the same decimal-exact dsum as batch, so results are bit-stable
across microbatch boundaries and cluster sizes.

Every stream query of the package runs through the two runners here,
``run_to_memory`` (memory sink) and ``run_upsert`` (foreachBatch upsert
into a parquet serving table), over the one primitive ``_run_stream``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mapreduceimplementation_spark.functions.stable import dsum, sql_dsum
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.session import scoped_conf
from mapreduceimplementation_spark.sources.tables import _normalize_events_ts

_SINK = "d1_windowed_counts_sink"


def _stop_query(spark: SparkSession, name: str) -> None:
    for q in spark.streams.active:
        if q.name == name:
            q.stop()


def _run_stream(
    spark: SparkSession,
    writer: DataStreamWriter,
    *,
    skip_no_data_batch: bool = False,
) -> None:
    """Drive ``writer`` to completion with ``trigger(availableNow)``.  Its
    confs are a ``scoped_conf`` held from ``.start()`` to
    ``awaitTermination()``, so the session is back as it was afterwards.

    Shuffle partitions are capped at 8: every stateful streaming
    partition owns state-store instances (a stream-stream join keeps
    FOUR per partition) with per-commit file overhead, so partition
    count should track stateful-key volume, not scan width — 32 batch
    partitions means 128 join state stores doing tiny commits.

    ``skip_no_data_batch`` skips the trailing no-data microbatch, for
    streams where it is provably a no-op on the RESULT (guide §1.2:
    don't compute things you throw away).  When a watermark advances at
    end-of-input, availableNow runs one extra empty microbatch whose only
    effects are state EVICTION and watermark-forced EMISSION; measured
    at 0.3-4 s per stream (r11 stream_profile), it is pure machinery for:

    - INNER stream-stream joins (matches emit eagerly in data batches;
      eviction emits nothing),
    - update-mode aggregations (eviction drops state whose final value
      was already emitted the last time it changed),
    - dropDuplicates (first-seen keys emit eagerly; eviction only drops
      expired key state).

    It MUST stay enabled for append-mode aggregations/outer joins
    (eviction IS their emission — left/full outer NULL rows, window
    finalization) and for timeout-based stateful ops.  Scale note: this
    is a per-query semantic property, not a local[32] tuning — on a real
    cluster the skipped batch costs a full state-store scan + commit per
    partition.  Its confs are session-wide while the stream runs, so no
    other stream may start meanwhile: streams run one at a time.  Queries
    start their streams through ``run_to_memory`` or ``run_upsert``;
    tests drive custom writers (file sinks with a checkpoint) through
    this function directly.

    Checkpoints (offset/commit/source logs, state-store deltas, schema
    files) are written through the Hadoop FileSystem API, not Spark's
    default FileContext manager.  Without the native libhadoop,
    ``RawLocalFileSystem`` forks ``chmod`` for every file it creates,
    and FileContext adds a ``readlink`` fork for every link-status call
    on create and rename; each fork costs about 4 ms, several per
    checkpoint file.  The FileSystem API asks no link status, and Spark
    still wraps it in its checksum manager (``.crc`` and ``N.delta.crc``
    files are unchanged).  This rests on every checkpoint being on the
    driver's local filesystem (Spark's temporary checkpoint or a
    caller's local ``checkpointLocation``), where both APIs end in the
    same atomic POSIX rename.  On HDFS, ``FileSystem.rename`` does not
    overwrite an existing target, so revisit this choice before a
    checkpoint leaves the driver's disk."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    conf = {
        "spark.sql.shuffle.partitions": str(min(cur, 8)),
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }
    if skip_no_data_batch:
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with scoped_conf(spark, conf):
        writer.trigger(availableNow=True).start().awaitTermination()


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    sink: str,
    mode: str,
    *,
    skip_no_data_batch: bool = False,
) -> DataFrame:
    """Run the streaming ``df`` to completion into the memory table
    ``sink`` in output ``mode`` and return that table.  A still-active
    query named ``sink`` is stopped first, so a rerun replaces the table.
    ``skip_no_data_batch`` and the one-stream-at-a-time rule are
    ``_run_stream``'s."""
    _stop_query(spark, sink)
    _run_stream(
        spark,
        df.writeStream.format("memory").queryName(sink).outputMode(mode),
        skip_no_data_batch=skip_no_data_batch,
    )
    return spark.table(sink)


def _make_upsert(work: str, state: dict, keys: list[str]):
    """The foreachBatch upsert closure of ``run_upsert``: left-anti +
    union into an alternating parquet dir keyed on ``keys``, swapped by
    reference.

    Per-batch cost discipline: ``batch_df`` re-executes its microbatch
    plan (state-store read included) on EVERY action, and the naive loop
    takes three (isEmpty, the anti-join probe side, the union write) —
    persist() caches the microbatch once so the plan runs once, and the
    empty check reuses the cached partitions.  The serving table is
    key-bounded (cells/users, not stream length), so caching a batch of
    changed keys is always executor-memory-safe."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            sp = batch_df.sparkSession
            new_dir = os.path.join(work, f"state-{batch_id}")
            if state["dir"] is None:
                out = batch_df
            else:
                # serving-table schema == microbatch schema by construction
                # (the union below enforces it); passing it explicitly
                # skips a footer-inference job per microbatch (guide §6)
                prev = sp.read.schema(batch_df.schema).parquet(state["dir"])
                kept = prev.join(batch_df.select(*keys), keys, "left_anti")
                out = kept.unionByName(batch_df)
            out.write.mode("overwrite").parquet(new_dir)
            old = state["dir"]
            state["dir"] = new_dir  # swap by reference — readers see old or new
            state["batches"] += 1
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)
        finally:
            batch_df.unpersist()

    return _upsert


def run_upsert(
    spark: SparkSession, df: DataFrame, keys: list[str]
) -> tuple[DataFrame, int]:
    """Run the streaming aggregation ``df`` to completion in update mode,
    upserting each microbatch on ``keys`` into a parquet serving table
    (``_make_upsert``); returns (serving table, number of microbatches
    that carried updates).  The one-stream-at-a-time rule is
    ``_run_stream``'s.  The trailing no-data batch is always skipped:
    in update mode it only evicts state whose final value was already
    upserted when it last changed (an empty batch would upsert nothing
    anyway), and a stream without a watermark never schedules one.

    The table lives in ``upsert-<keys>`` under the application's scratch
    directory (``SparkFiles.getRootDirectory()``), which Spark deletes
    when the application ends.  A run first removes what the previous
    run on the same keys left there, so at most one state dir per stream
    is on disk — and a DataFrame returned by an earlier run of the same
    stream is invalid once that stream runs again."""
    from pyspark import SparkFiles

    work = os.path.join(SparkFiles.getRootDirectory(), "upsert-" + "-".join(keys))
    shutil.rmtree(work, ignore_errors=True)
    state = {"dir": None, "batches": 0}
    _run_stream(
        spark,
        df.writeStream.outputMode("update").foreachBatch(
            _make_upsert(work, state, keys)
        ),
        skip_no_data_batch=True,
    )
    assert state["dir"] is not None, "stream produced no updates"
    return spark.read.parquet(state["dir"]), state["batches"]


#: per-path schema cache — the probe read lists and foots the file; doing
#: it once per path instead of per call saves a job on every stream setup
_SCHEMA_CACHE: dict[str, object] = {}


def _events_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """events as a file stream, its ts normalized exactly as the batch
    loader's (sources/tables.py ``_normalize_events_ts``)."""
    if path not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[path] = spark.read.parquet(path).schema  # ts = long nanos
    schema = _SCHEMA_CACHE[path]
    if os.path.isfile(path):
        # the file-stream source accepts directories and globs but not bare
        # file paths; a single-char class makes an exact-match glob
        path = f"{path[:-1]}[{path[-1]}]"
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    # watermarks require TIMESTAMP, which the normalization guarantees
    return _normalize_events_ts(reader.parquet(path))


def _minutely_counts(ev: DataFrame) -> DataFrame:
    """D1's aggregation over an events stream: per 1-minute tumbling
    window and event_type, the count and the exact value sum, under a
    1-minute watermark.  D5 and D7 run it over their own feeds."""
    return (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("minute"), "event_type", "n_events", "total_value"
        )
    )


@register(
    "streaming_windowed_counts",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling windowed counts with a 1-minute watermark.

    complete output mode + availableNow: every window (including the ones
    still inside the watermark at end-of-input) is present in the sink, so
    the result equals the batch aggregation exactly — the correctness gate
    a streaming re-platform needs before switching traffic.
    """
    ev = _events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    return run_to_memory(spark, _minutely_counts(ev), _SINK, "complete")


_JSON_SINK = "d5_windowed_counts_json_sink"


@register(
    "streaming_windowed_counts_json",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_windowed_counts_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1's windowed aggregation fed by a JSON-lines FILE STREAM — the
    production drop-folder ingestion path (collectors append .jsonl
    shards; the stream discovers and drains them).  Completes the
    streaming x format matrix cell: the same query, watermark and sink
    semantics as D1, with the source swapped to the materialized .jsonl
    twin of the events table — so its oracle is IDENTICAL to D1's, and a
    green row proves the JSON streaming ingest is value-exact end to end
    (µs timestamps and doubles included).

    Same scale rules as the batch JSON reader (sources/jsonl.py):
    explicit schema (inference on a stream is a full re-list + read per
    trigger), explicit timestampFormat, FAILFAST.  maxFilesPerTrigger
    bounds each microbatch: 3 triggers drain the 8 shards, exercising
    multi-batch accumulation in the sink."""
    from mapreduceimplementation_spark.sources.jsonl import (
        _TS_FMT,
        EVENTS_SCHEMA,
        materialize_events_jsonl,
    )

    d = materialize_events_jsonl(sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .option("maxFilesPerTrigger", "3")
        .json(os.path.join(d, "events-*.jsonl"))
    )
    return run_to_memory(spark, _minutely_counts(ev), _JSON_SINK, "complete")


_TOPK_SINK = "d11_topk_sink"
_TOPK_K = 3


@register(
    "streaming_topk",
    oracle=f"""
    WITH c AS (
        SELECT date_trunc('minute', ts) AS minute, event_type,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT minute, event_type, n_events, rnk FROM (
        SELECT minute, event_type, n_events,
               CAST(row_number() OVER (
                   PARTITION BY minute
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
        FROM c
    ) WHERE rnk <= {_TOPK_K}
    """,
)
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11: per-window top-{_TOPK_K} event types — the streaming
    leaderboard (trending-now) shape.  The STREAM maintains only the
    windowed counts (the same bounded windows × types state as D1);
    the rank is a batch window over the sink's dim-sized result, because
    a per-window top-k cannot be finalized while the window can still
    receive data — ranking at read time is how a production dashboard
    queries such a sink (the Kappa-architecture serving-layer split).

    complete mode + availableNow ⇒ equals the batch top-k exactly
    (ties broken by event_type: a total order, so the frontier is
    deterministic across engines and partitionings)."""
    ev = _events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("minute"), "event_type", "n_events")
    )
    counts = run_to_memory(spark, agg, _TOPK_SINK, "complete")
    from pyspark.sql.window import Window

    w = Window.partitionBy("minute").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _TOPK_K)
    )


# ---------------------------------------------------------------------------
# D13. streaming_hll_users (mergeable-register cardinality on a stream)

_HLL_SINK = "d13_hll_users_sink"


def _hll_oracle() -> str:
    """DuckDB twin built from C49's OWN fragments (one sketch definition —
    a drifted copy would silently diverge from the batch estimator)."""
    from mapreduceimplementation_spark.functions.hashing import sql_hash64
    from mapreduceimplementation_spark.operators.textmetrics import (
        _HLL_M,
        _SQL_HLL_ALPHA_MM,
        _SQL_HLL_RHO,
    )

    return f"""
    WITH regs AS (
        SELECT day, bucket, max(rho) AS r
        FROM (
            SELECT date_trunc('day', ts) AS day,
                   h % {_HLL_M} AS bucket,
                   {_SQL_HLL_RHO.format(w=f"(h // {_HLL_M})")} AS rho
            FROM (SELECT ts,
                         {sql_hash64("'hll-' || CAST(user_id AS VARCHAR)")} AS h
                  FROM events)
        ) GROUP BY day, bucket
    ), sums AS (
        SELECT day,
               CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s,
               {_HLL_M} - count(*) AS z
        FROM regs GROUP BY day
    ), est AS (
        SELECT day,
               CASE WHEN raw <= CAST({_HLL_M * 5} AS DOUBLE) / CAST(2 AS DOUBLE)
                         AND z > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / CAST(z AS DOUBLE))
                    ELSE raw END AS e
        FROM (SELECT day, z,
                     {_SQL_HLL_ALPHA_MM} * CAST(1::BIGINT << 53 AS DOUBLE)
                         / CAST(s + z * (1::BIGINT << 53) AS DOUBLE) AS raw
              FROM sums)
    ), exact AS (
        SELECT date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS exact_users
        FROM events GROUP BY 1
    )
    SELECT day, exact_users,
           CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) AS est_users,
           CAST(abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)
                * 1000000 // exact_users AS BIGINT) AS err_ppm,
           (abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)
                * 1000000 // exact_users) <= 195000 AS within_3sigma
    FROM est JOIN exact USING (day)
    """


@register("streaming_hll_users", oracle=_hll_oracle())
def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users ON A STREAM via mergeable HyperLogLog
    registers — the streaming twin of C49 and the production answer to a
    hard Structured Streaming restriction: count(DISTINCT) is unsupported
    in streaming aggregation (D1's caveat), and exact dedup state grows
    with true cardinality, but HLL registers are a commutative monoid
    (per-(day, bucket) MAX of rho), so a plain streaming max-aggregation
    maintains them incrementally with state bounded at days x 256
    registers REGARDLESS of user volume.  This is how daily uniques are
    actually counted on a 100 TB/day feed.

    The stream keeps only the sketch; the closed-form estimate (C49's
    alpha*m^2/sum + linear-counting branch, shared fragments — one sketch
    definition, no drift) and the exact audit side are a finalize step
    over the tiny register sink.  availableNow + complete mode replays
    the file feed to end-of-input, so the result equals the batch twin
    exactly (pytest-gated) and the DuckDB oracle certifies the whole
    estimator at full value, same as C49.

    Scale shape: watermark declared on ts so append-mode production
    evicts closed days; the shuffle carries at most days x 256 register
    cells per microbatch (map-side partial max), never per-user rows."""
    from mapreduceimplementation_spark.sources.tables import load_table

    regs = run_hll_register_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return hll_finalize(regs, exact)


def run_hll_register_stream(
    spark: SparkSession, path: str, sink: str = _HLL_SINK, **options
) -> DataFrame:
    """The streaming half of D13: maintain per-(day, bucket) max-rho
    registers over the feed; returns the register table after the
    availableNow replay terminates."""
    from mapreduceimplementation_spark.functions.hashing import hash64
    from mapreduceimplementation_spark.operators.textmetrics import (
        _HLL_M,
        _SQL_HLL_RHO,
    )

    ev = _events_stream(spark, path, **options)
    h = hash64(F.concat(F.lit("hll-"), F.col("user_id").cast("string")))
    rho_sql = _SQL_HLL_RHO.format(w=f"(h div {_HLL_M})")
    regs = (
        ev.select("ts", h.alias("h"))
        .select(
            "ts",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.expr(rho_sql).alias("rho"),
        )
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("win.start").alias("day"), "bucket", "r")
    )
    return run_to_memory(spark, regs, sink, "complete")


def hll_finalize(sink: DataFrame, exact: DataFrame) -> DataFrame:
    """Batch finalize over the tiny register table: C49's closed-form
    estimate (shared fragments) joined to the exact audit side."""
    from mapreduceimplementation_spark.operators.textmetrics import (
        _HLL_M,
        _SQL_HLL_ALPHA_MM,
    )

    sums = sink.groupBy("day").agg(
        F.expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - r)) AS BIGINT)").alias(
            "s"
        ),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("z"),
    )
    est = sums.select(
        "day",
        "z",
        F.expr(
            f"{_SQL_HLL_ALPHA_MM} * CAST(shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
            f" / CAST(s + z * shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
        ).alias("raw"),
    ).select(
        "day",
        F.expr(
            f"CASE WHEN raw <= CAST({_HLL_M * 5} AS DOUBLE) / CAST(2 AS DOUBLE)"
            f" AND z > 0 THEN CAST({_HLL_M} AS DOUBLE)"
            f" * ln(CAST({_HLL_M} AS DOUBLE) / CAST(z AS DOUBLE))"
            f" ELSE raw END"
        ).alias("e"),
    )
    err_ppm = F.expr(
        "abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)"
        " * 1000000 div exact_users"
    )
    return est.join(F.broadcast(exact), "day").select(
        "day",
        "exact_users",
        F.floor(F.col("e") + F.expr("CAST(0.5 AS DOUBLE)")).cast("long").alias(
            "est_users"
        ),
        err_ppm.cast("long").alias("err_ppm"),
        (err_ppm <= 195000).alias("within_3sigma"),
    )


# ---------------------------------------------------------------------------
# D14. streaming_quantile_sketch (mergeable histogram cells on a stream)

_QSS_SINK = "d14_quantile_cells_sink"


def _qs_oracle() -> str:
    """B65's oracle verbatim (one sketch definition — the stream's per-day
    cells merged across days are count-identical to the batch hist)."""
    from mapreduceimplementation_spark.plans.events import _QS_ORACLE

    return _QS_ORACLE


@register("streaming_quantile_sketch", oracle=_qs_oracle())
def streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p50/p90/p99 from histogram cells maintained ON A STREAM —
    the streaming twin of B65 and the third member of the mergeable-
    sketch-on-a-stream family (D13 cardinality registers, D7 incremental
    rollup): fixed-grid cells are a commutative monoid (per-(day, type,
    bin) COUNT sums), so a plain streaming count-aggregation maintains
    them incrementally with state bounded at days x types x 1024 cells
    REGARDLESS of event volume.  This is how latency/value quantiles are
    actually served on a 100 TB/day feed: the stream keeps only cells,
    any window's quantiles come from summing stored cells, never from
    replaying raw events.

    The finalize step (merge days -> interpolate at rank k -> exact
    audit probe) is B65's quantile_sketch_audit VERBATIM on the merged
    cells, and the oracle is B65's oracle string itself: per-day cells
    merged across days are count-identical to the batch hist, so ONE
    oracle + one audit certify both paths (the D13 shared-fragment rule).

    Scale shape: watermark on ts so append-mode production evicts closed
    days; the shuffle carries at most days x types x 1024 cell rows per
    microbatch (map-side partial count), never raw events.  The exact
    audit side is the harness, run on samples at full scale."""
    from mapreduceimplementation_spark.plans.events import (
        quantile_sketch_audit,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    cells = run_quantile_cell_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    hist = cells.groupBy("event_type", "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    return quantile_sketch_audit(hist, ev)


def run_quantile_cell_stream(
    spark: SparkSession, path: str, sink: str = _QSS_SINK, **options
) -> DataFrame:
    """The streaming half of D14: maintain per-(day, event_type, bin)
    histogram cells over the feed; returns the cell table after the
    availableNow replay terminates."""
    from mapreduceimplementation_spark.plans.events import qs_bin

    ev = _events_stream(spark, path, **options)
    cells = (
        ev.select("ts", "event_type", qs_bin(F.col("value")).alias("bin"))
        .withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day").alias("win"), "event_type", "bin"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("day"), "event_type", "bin", "cnt")
    )
    return run_to_memory(spark, cells, sink, "complete")


# ---------------------------------------------------------------------------
# D15. streaming_cms_topk (count-min cells on a stream)

_CMS_SINK = "d15_cms_cells_sink"


def _cms_oracle() -> str:
    """C25's oracle verbatim (one sketch definition — the stream's
    per-day cells merged across days are count-identical to the batch
    sketch)."""
    from mapreduceimplementation_spark.operators.textmetrics import (
        _CMS_ORACLE,
    )

    return _CMS_ORACLE


@register("streaming_cms_topk", oracle=_cms_oracle())
def streaming_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies from a count-min sketch maintained ON A
    STREAM — the streaming twin of C25 and the fourth member of the
    mergeable-sketch-on-a-stream family (D13 cardinality, D14 quantiles,
    D7 rollup): CMS cells are a commutative monoid (per-(day, d, bucket)
    COUNT sums), so a plain streaming count-aggregation maintains them
    incrementally with state bounded at days x 4 x 64 cells REGARDLESS
    of key cardinality.  This is how per-key frequency estimates are
    served on a 100 TB/day feed: the stream keeps only cells; any
    window's estimate is a min over summed cells, never a rescan.

    The finalize step (merge days -> exact top-N probe -> min-cell
    estimate) is C25's cms_finalize VERBATIM on the merged cells, and
    the oracle is C25's oracle string itself (per-day cells merged
    across days are count-identical to the batch sketch) — one oracle +
    one finalize certify both paths.

    Scale shape: watermark on ts so append-mode production evicts
    closed days; the shuffle carries at most days x D x W cell rows per
    microbatch (map-side partial count), never per-event rows.  The
    exact side is the audit harness, run on samples at full scale."""
    from mapreduceimplementation_spark.operators.textmetrics import (
        cms_finalize,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    day_cells = run_cms_cell_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    cells = day_cells.groupBy("d", "bucket").agg(
        F.sum("cnt").alias("cell")
    )
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return cms_finalize(cells, ev)


def run_cms_cell_stream(
    spark: SparkSession, path: str, sink: str = _CMS_SINK, **options
) -> DataFrame:
    """The streaming half of D15: maintain per-(day, d, bucket) CMS
    cells over the feed; returns the cell table after the availableNow
    replay terminates."""
    from mapreduceimplementation_spark.operators.textmetrics import (
        _CMS_D,
        cms_bucket,
    )

    ev = _events_stream(spark, path, **options)
    cells = (
        ev.select(
            "ts",
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
        )
        .select(
            "ts", "d", cms_bucket(F.col("d"), F.col("user_id")).alias("bucket")
        )
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("day"), "d", "bucket", "cnt")
    )
    return run_to_memory(spark, cells, sink, "complete")
