"""D7: streaming incremental rollup — update-mode agg + foreachBatch upsert.

B28 proves base+delta partial-aggregate merging equals the full rollup in
batch; this is the same materialized-view-maintenance contract run as a
STREAM: each microbatch emits only the (window, type) aggregates it
changed (update output mode), and foreachBatch upserts them into a
serving table.  The serving table ends exactly equal to the one-pass
batch rollup — the oracle is IDENTICAL to D1's — so the green row proves
the upsert loop loses nothing across microbatch boundaries.

The upsert (``windowed.run_upsert``) is the no-ACID-table fallback
(left-anti + union into an alternating parquet dir, swapped atomically
by reference); on a real deployment the foreachBatch body becomes MERGE INTO on Delta/Iceberg —
same update-mode feed, same keys, same exactness argument.  Each batch's
merge cost is proportional to CHANGED keys (update mode), not total
windows — the property that makes a year-long rollup maintainable by a
stream that only ever touches the current hour.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.functions.stable import sql_dsum
from mapreduceimplementation_spark.registry import ORACLES, register
from mapreduceimplementation_spark.sources.fixtures import _materialize_once
from mapreduceimplementation_spark.streaming.windowed import (
    _events_stream,
    _minutely_counts,
    run_to_memory,
    run_upsert,
)

_N_CHUNKS = 4


def _chronological_feed(sf_dir: str) -> str:
    """events.parquet → _N_CHUNKS contiguous-ts-range parquet files with
    ascending mtimes (one-time, marker-guarded fixture).

    Chronological chunks make the watermark honest: a window only ever
    straddles adjacent chunks, so it is still inside the 1-minute
    watermark when its tail arrives — update-mode eviction can never
    resurrect an evicted window with a partial value.  (An out-of-order
    feed needs a watermark ≥ its disorder bound — standard streaming
    contract, not a limitation of the merge.)

    Batch count (r11, VERDICT r10 item 3): consumers feed 2 files per
    trigger → TWO microbatches.  One crossed batch boundary is the
    minimal nontrivial proof of cross-batch state carry-over (windows
    straddle the chronological midpoint; AB conversions arrive a batch
    after exposure), and each extra microbatch costs ~1-1.5 s of pure
    machinery (plan re-analysis + state-store commits + foreachBatch
    round-trips, measured in the r11 stream profile).  The multi-batch
    pytests drive their own feeds with maxFilesPerTrigger=1, so the
    finer-sliced proofs stay exercised."""
    src = os.path.join(sf_dir, "events.parquet")

    def write(d: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        step = (t.num_rows + _N_CHUNKS - 1) // _N_CHUNKS
        for i in range(_N_CHUNKS):
            p = os.path.join(d, f"chunk-{i:02d}.parquet")
            pq.write_table(t.slice(i * step, step), p)
            os.utime(p, (1_000_000 + i, 1_000_000 + i))  # mtime = arrival order

    return _materialize_once("mri_spark_events_chunks", src, write)


def _feed_stream(
    spark: SparkSession, sf_dir: str, feed_dir: str | None = None
) -> DataFrame:
    """The ``chunk-*.parquet`` events feed as a file stream: ``feed_dir``
    if given, else the default ``_chronological_feed(sf_dir)``."""
    # default fixture: 2 files/trigger = two microbatches (the minimal
    # cross-batch proof; see _chronological_feed).  Test-supplied feeds
    # keep 1 file/trigger so their finer-sliced straddle proofs hold.
    feed = feed_dir if feed_dir is not None else _chronological_feed(sf_dir)
    return _events_stream(
        spark,
        os.path.join(feed, "chunk-*.parquet"),
        maxFilesPerTrigger="1" if feed_dir is not None else "2",
    )


def run_incremental_rollup(
    spark: SparkSession, sf_dir: str, feed_dir: str | None = None
) -> tuple[DataFrame, int]:
    """Drive the stream to completion; returns (final serving table,
    number of microbatches that carried updates).  ``feed_dir`` overrides
    the default chunked-events feed (tests use it to force windows that
    straddle microbatch boundaries)."""
    agg = _minutely_counts(_feed_stream(spark, sf_dir, feed_dir))
    return run_upsert(spark, agg, ["minute", "event_type"])


@register(
    "streaming_incremental_rollup",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode windowed rollup maintained by foreachBatch upserts —
    the streaming materialized-view path (see module docstring).  The
    oracle is the one-pass batch rollup, so the green row proves the
    microbatch upsert chain is value-exact (decimal-exact sums included,
    same dsum discipline as D1/B7)."""
    df, _ = run_incremental_rollup(spark, sf_dir)
    return df


# ---------------------------------------------------------------------------
# D9. streaming_value_histogram — fixed-bin cells accumulated across
# microbatches (B36's mergeability claim, exercised by an actual stream)

_D9_SINK = "d9_value_histogram_sink"
# bin grid imported from B36 — one definition, no drift channel between
# the batch histogram, this stream twin, and their (identical) oracles
from mapreduceimplementation_spark.plans.events import (  # noqa: E402
    _HIST_BINS as _H_BINS,
    _HIST_WIDTH as _H_WIDTH,
)


@register(
    "streaming_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(LEAST(FLOOR(value / {_H_WIDTH}), {_H_BINS}) AS BIGINT) AS bin,
           ROUND(LEAST(FLOOR(value / {_H_WIDTH}), {_H_BINS}) * {_H_WIDTH}, 2)
               AS bin_lo,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36's fixed-width histogram fed by a multi-microbatch file stream:
    declared bin edges are what make histogram cells MERGEABLE, and a
    stream is the sharpest proof — each microbatch contributes partial
    cell counts and the complete-mode state simply sums them, no
    re-binning, no data-derived edges to disagree about between batches.

    The feed is the chunked events fixture (2 files/trigger → two
    microbatches, the minimal cross-batch proof — see
    _chronological_feed), the aggregation key (event_type, bin) is tiny
    and watermark-free (bins are not event-time state: cell count is
    bounded by the bin grid, so state never grows with the stream —
    the one aggregation shape that is safe WITHOUT a watermark), and the
    oracle is IDENTICAL to B36's batch histogram: the green row proves
    cross-microbatch cell accumulation is count-exact."""
    ev = _feed_stream(spark, sf_dir)
    bin_ = F.least(F.floor(F.col("value") / _H_WIDTH), F.lit(_H_BINS))
    agg = (
        ev.select(
            "event_type",
            bin_.cast("long").alias("bin"),
            F.round(bin_ * _H_WIDTH, 2).alias("bin_lo"),
        )
        .groupBy("event_type", "bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_to_memory(spark, agg, _D9_SINK, "complete")


# ---------------------------------------------------------------------------
# D17. streaming_ab_test_metrics — live experiment monitor


def run_ab_stream(
    spark: SparkSession, sf_dir: str, feed_dir: str | None = None
) -> tuple[DataFrame, int]:
    """Drive the experiment stream to completion; returns (per-user
    serving table, number of microbatches that carried updates)."""
    from mapreduceimplementation_spark.plans.events import ab_per_user_facts

    ev = _feed_stream(spark, sf_dir, feed_dir)
    per_user = ab_per_user_facts(ev.select("user_id", "event_type", "value"))
    return run_upsert(spark, per_user, ["variant", "user_id"])


def _register_d17() -> None:
    from mapreduceimplementation_spark.plans.events import (
        _AB_ORACLE,
        ab_arm_readout,
    )

    @register("streaming_ab_test_metrics", oracle=_AB_ORACLE)
    def streaming_ab_test_metrics(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """B76's experiment readout maintained by a STREAM — the live
        experiment monitor (every experimentation platform watches arms
        converge in near-real-time; the decision metric must end equal
        to the nightly batch readout or nobody trusts either): per-user
        (converted, value_micro) facts are an update-mode aggregation
        keyed (variant, user_id) — NOT event-time state, so no watermark:
        a user can always convert later, the state is the monitor's
        working set, bounded by AUDIENCE not stream length (the same
        bound the per-user batch ops carry; a real deployment ages out
        dormant users by policy, not by watermark) — upserted per
        microbatch into the serving table by foreachBatch (D7's merge
        loop, keys (variant, user_id), cost proportional to users who
        CHANGED this batch), and the 2-row arm readout runs at read time
        over the serving table (the Kappa split D11 established).

        Assignment, micro-snap, per-user agg, and the readout are the
        SAME ab_per_user_facts/ab_arm_readout code B76 runs, and the
        registered oracle is the IDENTICAL _AB_ORACLE string — the green
        hash proves the microbatch upsert chain converges to exactly the
        batch answer (update-mode aggs re-emit the COMPLETE per-key
        value, so the last write per user is total-history-correct even
        when conversions arrive batches after exposure — pinned by the
        multibatch pytest)."""
        df, _ = run_ab_stream(spark, sf_dir)
        return ab_arm_readout(df)


_register_d17()


# ---------------------------------------------------------------------------
# D23. streaming_anomaly — B26's daily z-score detector over cells
# maintained incrementally by the stream

# one detector definition shared with the batch twin — no drift channel
from mapreduceimplementation_spark.plans.events import (  # noqa: E402
    anomaly_from_daily as _anomaly_from_daily,
)


def run_anomaly_stream(
    spark: SparkSession, sf_dir: str, feed_dir: str | None = None
) -> tuple[DataFrame, int]:
    """Maintain the (day, event_type, c) daily-cell table by stream (D7's
    update-mode + foreachBatch-upsert machinery, day-grain windows);
    returns (final cell table, microbatches that carried updates).

    The split of labor is the production streaming-anomaly shape: the
    STREAM maintains the cell store incrementally (each batch touches
    only the cells it changed — current-day cells, not the calendar),
    and the DETECTOR is a query over the cell table, re-run per refresh.
    The retrospective z-score (B26 normalizes each day against the whole
    horizon's distribution) means late days change earlier days' scores
    — scores cannot be emitted append-only by the stream, but the cell
    table they derive from is exactly maintainable.  Cell cardinality is
    days × types — calendar-bounded, never event-volume-bounded — so the
    detector query is serving-table-sized at any corpus scale."""
    agg = (
        _feed_stream(spark, sf_dir, feed_dir)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("win.start").alias("day"), "event_type", "c")
    )
    return run_upsert(spark, agg, ["day", "event_type"])


@register("streaming_anomaly", oracle=ORACLES["events_anomaly"])
def streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26's daily volume-anomaly z-scores with the daily cells maintained
    by a LIVE stream (D23): update-mode day-grain rollup upserted into a
    serving table per microbatch, the shared anomaly_from_daily detector
    run over the final cells; shares B26's oracle verbatim (full
    rows+schema+hash gate).  See run_anomaly_stream."""
    daily, _ = run_anomaly_stream(spark, sf_dir)
    return _anomaly_from_daily(daily)


# ---------------------------------------------------------------------------
# D24. streaming_ewma — B83's dyadic EWMA maintained by a stream
# (per-type O(K) GroupState, changelog + deterministic compaction)

from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402
from pyspark.sql.window import Window as _PsWindow  # noqa: E402

from mapreduceimplementation_spark.plans.events import (  # noqa: E402
    _EWMA_K as _D24_K,
)

_D24_SINK = "d24_ewma_sink"
_D24_OUT_SCHEMA = (
    "day timestamp, event_type string, c bigint, ewma double, "
    "spike boolean, closed boolean"
)
#: rolling buffer of the last K COMPLETED day counts plus the open
#: day — O(K) per type regardless of horizon, the streaming twin of
#: B83's K-tap truncation (K, not K-1: s_prev needs the 2^0 tap)
_D24_STATE_SCHEMA = "buf array<bigint>, cur_day bigint, cur_c bigint"

_D24_DAY_US = 24 * 3600 * 1_000_000


def _d24_fir(buf, c):
    """Integer dyadic FIR over (completed buffer ++ current count): the
    exact twin of B83's Σ lag(c, j)·2^(K-1-j) — Python ints, no float
    fold; returns (S, S_prev) where S_prev is the FIR of the buffer
    alone (the spike comparison's forecast state)."""
    seq = list(buf) + [int(c)]
    s = sum(
        seq[-1 - j] << (_D24_K - 1 - j)
        for j in range(min(_D24_K, len(seq)))
    )
    s_prev = sum(
        buf[-1 - j] << (_D24_K - 1 - j)
        for j in range(min(_D24_K, len(buf)))
    )
    return s, s_prev


def _d24_row(day_us, etype, c, buf):
    import pandas as pd

    s, s_prev = _d24_fir(buf, c)
    spike = bool(buf) and (int(c) << (_D24_K - 1)) > s_prev
    return (
        pd.Timestamp(day_us, unit="us"),
        etype,
        int(c),
        s / float(1 << _D24_K),
        spike,
    )


def _ewma_fn(key, pdfs, state):
    """Per-type EWMA state machine: event-time order makes days arrive
    non-decreasing (D21's monotonicity), so a strictly-later day CLOSES
    the open day — its row is final and emitted exactly once; the open
    day emits a superseded-by-growing-c snapshot per batch (D22's
    changelog discipline, compacted by the reader)."""
    import pandas as pd

    (etype,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    days = sorted(
        ((int(t) // _D24_DAY_US) * _D24_DAY_US for t in ts_us),
    )
    counts: dict[int, int] = {}
    for d in days:
        counts[d] = counts.get(d, 0) + 1
    buf, cur_day, cur_c = (
        state.get if state.exists else ([], -1, 0)
    )
    buf = list(buf)
    out = []
    for d in sorted(counts):
        if cur_day < 0:
            cur_day, cur_c = d, counts[d]
        elif d == cur_day:
            cur_c += counts[d]
        else:
            out.append(_d24_row(cur_day, etype, cur_c, buf) + (True,))
            # Retain K completed days, not K-1: _d24_fir's s_prev (the
            # spike forecast) spans up to K taps of buf with the oldest
            # at weight 2^0, exactly matching batch B83's lag(S) 32-tap
            # FIR — keeping only K-1 would drop the c_{t-K}·2^0 term and
            # flip near-threshold spike verdicts once a type has ≥K+1
            # event-days.  s is unaffected (it reads the last K taps of
            # buf ++ [c]).
            buf = (buf + [cur_c])[-_D24_K:]
            cur_day, cur_c = d, counts[d]
    out.append(_d24_row(cur_day, etype, cur_c, buf) + (False,))
    state.update((buf, cur_day, cur_c))
    yield pd.DataFrame(
        out,
        columns=["day", "event_type", "c", "ewma", "spike", "closed"],
    )


def run_ewma_stream(
    spark: SparkSession, path: str, sink: str = _D24_SINK, **source_options
) -> DataFrame:
    """Run the stateful EWMA over `path` to completion; returns B83's
    (day, event_type, c, ewma, spike) table.  Compaction winner per
    (type, day) = closed row if any, else the max-c snapshot — unique
    and deterministic by the D22 argument (every batch touching a type
    either grows the open day's count or closes it)."""
    ev = (
        _events_stream(spark, path, **source_options)
        .select("ts", "event_type")
        .withWatermark("ts", "1 hour")
    )
    log = ev.groupBy("event_type").applyInPandasWithState(
        _ewma_fn,
        outputStructType=_D24_OUT_SCHEMA,
        stateStructType=_D24_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(spark, log, sink, "update")
    pick = _PsWindow.partitionBy("event_type", "day").orderBy(
        F.col("closed").desc(), F.col("c").desc()
    )
    return (
        mem.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("day", "event_type", "c", "ewma", "spike")
    )


@register("streaming_ewma", oracle=ORACLES["events_ewma_daily"])
def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B83's dyadic daily EWMA maintained by a LIVE stream (D24): O(K)
    per-type GroupState (rolling completed-day buffer + the open day),
    exact integer FIR shared bit-for-bit with the batch twin, changelog
    emission compacted deterministically; shares B83's oracle verbatim.
    See run_ewma_stream."""
    return run_ewma_stream(spark, os.path.join(sf_dir, "events.parquet"))
