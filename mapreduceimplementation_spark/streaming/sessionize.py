"""D2: stateful streaming sessionization via applyInPandasWithState.

The custom stateful operator the DataFrame API can't express: per-user
30-minute-gap sessions maintained as explicit GroupState across
microbatches (the streaming twin of plans/events.py events_sessionize).

Contract and semantics:

- State per user = the trailing (still-open) session: (session_id, start,
  end, n_events, exact decimal total).  Each microbatch merges its events
  into the trailing session or closes it and opens new ones.
- Sessions are emitted **eagerly** every batch (closed sessions finally,
  the trailing session provisionally).  A later batch that extends the
  trailing session re-emits it with the same (user_id, session_id) key and
  strictly larger n_events, so the post-stream reconciliation —
  groupBy(user_id, session_id) keeping the max-n_events row — converges to
  exactly the batch result.  This trades a tiny sink-side dedup for the
  thing availableNow cannot give (event-time timeouts never fire after the
  last batch: the watermark can't pass the final session's end), and it
  means results are correct at ANY batch slicing — asserted by the
  multi-batch test (tests/test_streaming.py) with maxFilesPerTrigger=1.
- Event-time order across batches per user is assumed (in production the
  upstream watermark enforces it); within a batch events are sorted.
- total_value reproduces the batch dsum exactly: every value is quantized
  to decimal(27,6) (the same HALF_UP the Spark cast applies) and summed
  exactly in Python Decimal, so the streaming result hash-matches the
  batch oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window as PsWindow

from mapreduceimplementation_spark.registry import ORACLES, register
from mapreduceimplementation_spark.functions.stable import dsum
from mapreduceimplementation_spark.streaming.windowed import (
    _events_stream,
    run_to_memory,
)

# importing the batch plans guarantees B8's oracle is registered before we
# borrow it below (D2's output is defined to equal the batch twin's)
import mapreduceimplementation_spark.plans.events  # noqa: F401

_SINK = "d2_sessionize_sink"
_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds

_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp, total_value double"
)
#: trailing-session state: timestamps as int microseconds (portable), the
#: running total as a decimal string (exact)
_STATE_SCHEMA = "sid bigint, start bigint, end bigint, n bigint, tot string"

_Q6 = Decimal("0.000001")


def _quant(v: float) -> Decimal:
    """The exact value Spark's cast(double as decimal(27,6)) produces."""
    return Decimal(v).quantize(_Q6, rounding=ROUND_HALF_UP)


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")

    if state.exists:
        sid, start_us, end_us, n, tot = state.get
        cur = [sid, start_us, end_us, n, Decimal(tot)]
    else:
        cur = None

    done: list[list] = []
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    for t, val in zip(ts_us, batch["value"]):
        t = int(t)
        if cur is None:
            cur = [1, t, t, 0, Decimal(0)]
        elif t > cur[2] + _GAP_US:
            done.append(cur)
            cur = [cur[0] + 1, t, t, 0, Decimal(0)]
        cur[2] = max(cur[2], t)
        cur[3] += 1
        if val is not None and not pd.isna(val):
            # null values count toward the session but not the total —
            # the same skip-nulls semantics as the batch twin's F.sum
            cur[4] += _quant(float(val))

    state.update((cur[0], cur[1], cur[2], cur[3], str(cur[4])))
    rows = done + [cur]  # trailing session emitted provisionally
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(rows),
            "session_id": [r[0] for r in rows],
            "n_events": [r[3] for r in rows],
            "session_start": pd.to_datetime([r[1] for r in rows], unit="us"),
            "session_end": pd.to_datetime([r[2] for r in rows], unit="us"),
            "total_value": [float(r[4]) for r in rows],
        }
    )


def run_sessionize_stream(
    spark: SparkSession, path: str, sink: str = _SINK, **source_options
) -> DataFrame:
    """Run the stateful sessionize stream over `path` to completion and
    return the reconciled session table (see module docstring)."""
    ev = _events_stream(spark, path, **source_options).select(
        "user_id", "ts", "event_id", "value"
    )
    sessions = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # reconciliation: a session re-emitted by a later batch supersedes its
    # provisional row (same key, strictly larger n_events)
    mem = run_to_memory(spark, sessions, sink, "append")
    return mem.groupBy("user_id", "session_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@register("streaming_sessionize", oracle=ORACLES["events_sessionize"])
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization as a stateful streaming operator.

    Defined to produce exactly the batch twin's rows (B8), so it shares
    B8's oracle — the full rows+schema+hash gate, not a weaker rows-only
    check.  Multi-batch state carry-over is exercised separately by
    tests/test_streaming.py with maxFilesPerTrigger=1."""
    return run_sessionize_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D6. streaming_sessionize_native (built-in session_window aggregation)

_NATIVE_SINK = "d6_sessionize_native_sink"

#: B8 merges an event at EXACTLY last_ts + 30min into the session
#: (`ts > lag + 30min` opens); session_window's half-open [start, last+gap)
#: would not.  One extra microsecond makes the native merge condition
#: `e < last + 30min + 1µs` ⟺ `e <= last + 30min` at the data's µs
#: resolution — boundary-identical to the batch twin.
_NATIVE_GAP = "30 minutes 1 microsecond"


@register("streaming_sessionize_native", oracle=ORACLES["events_sessionize"])
def streaming_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2's sessionization on the built-in ``session_window`` aggregation:
    session state lives in the JVM state store (RocksDB/HDFS-backed at
    deploy) instead of Python workers — no Arrow transfer, no pickled
    per-group state, and state-store metrics/checkpointing come for free.
    This is the metrics-only production path; D2 remains the demo of the
    generic custom-state API (applyInPandasWithState) for operators the
    built-ins can't express.

    Output is defined to equal the batch twin B8 exactly (same full
    rows+schema+hash oracle): session_start/end are the window bounds
    un-padded by the gap, total_value is the same exact-decimal dsum, and
    session ids are assigned by a post-stream row_number over the
    session-level sink rows (a window over ~sessions, not events —
    streaming queries cannot contain window functions, and the sink
    relation is aggregate-sized).

    Complete output mode + availableNow: the state store merges sessions
    across microbatches and the sink holds every finalized session at
    end-of-input — no watermark-stranded trailing sessions, no
    provisional-row reconciliation (D2's trade)."""
    return run_sessionize_native_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def run_sessionize_native_stream(
    spark: SparkSession, path: str, sink: str = _NATIVE_SINK, **source_options
) -> DataFrame:
    """Run the session_window stream over `path` to completion and return
    the B8-shaped session table (see streaming_sessionize_native)."""
    ev = _events_stream(spark, path, **source_options).select(
        "user_id", "ts", "value"
    )
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", _NATIVE_GAP).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    mem = run_to_memory(spark, agg, sink, "complete")
    w = PsWindow.partitionBy("user_id").orderBy("win.start")
    return mem.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_id"),
        "n_events",
        F.col("win.start").alias("session_start"),
        (F.col("win.end") - F.expr(f"INTERVAL {_NATIVE_GAP}")).alias("session_end"),
        "total_value",
    )


# ---------------------------------------------------------------------------
# D20. streaming_funnel — B23's ordered funnel as a custom stateful operator

_FUN_SINK = "d20_funnel_sink"

_FUN_OUT_SCHEMA = "user_id bigint, stage string"
#: first-completion timestamps in int microseconds; -1 = not yet reached
_FUN_STATE_SCHEMA = "t_view bigint, t_click bigint, t_purchase bigint"

_FUN_STAGES = ("1_view", "2_click", "3_purchase")


def _funnel_fn(key, pdfs, state):
    """Per-user ordered-funnel state machine: processing events in event
    time, record the FIRST view, the first click strictly after it, and
    the first purchase strictly after that — each stage emits exactly
    once, the moment it completes (at most 3 rows per user, ever).
    Equivalent to B23's chained min-over-window definition because
    in-order processing makes 'first qualifying' = 'min qualifying'."""
    import pandas as pd

    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    tv, tc, tp = state.get if state.exists else (-1, -1, -1)

    emitted = []
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    for t, etype in zip(ts_us, batch["event_type"]):
        t = int(t)
        if etype == "view" and tv < 0:
            tv = t
            emitted.append("1_view")
        elif etype == "click" and tv >= 0 and t > tv and tc < 0:
            tc = t
            emitted.append("2_click")
        elif etype == "purchase" and tc >= 0 and t > tc and tp < 0:
            tp = t
            emitted.append("3_purchase")
    state.update((tv, tc, tp))
    if emitted:
        yield pd.DataFrame(
            {"user_id": [user_id] * len(emitted), "stage": emitted}
        )


def run_funnel_stream(
    spark: SparkSession, path: str, sink: str = _FUN_SINK, **source_options
) -> DataFrame:
    """Run the stateful funnel over `path` to completion; returns B23's
    (stage, n_users) table.  State per user is three timestamps; each
    stage emits exactly once per user in append mode, so the sink holds
    at most 3·|users| rows and the rollup is sink-sized.  Cross-batch:
    a view in batch 1 must gate a click in batch 3 — the multibatch
    pytest pins it."""
    ev = (
        _events_stream(spark, path, **source_options)
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "1 hour")
    )
    stages = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUN_OUT_SCHEMA,
        stateStructType=_FUN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(spark, stages, sink, "append")
    counts = (
        mem.groupBy("stage")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    frame = spark.createDataFrame(
        [(s,) for s in _FUN_STAGES], "stage string"
    )
    return frame.join(counts, "stage", "left").select(
        "stage", F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users")
    )


@register("streaming_funnel", oracle=ORACLES["events_funnel"])
def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23's ordered view->click->purchase funnel maintained by a stream
    (D20): per-user three-timestamp GroupState, each stage emitted
    exactly once at completion — shares B23's oracle verbatim (full
    rows+schema+hash gate), the D2 borrowed-oracle discipline.  See
    run_funnel_stream."""
    # B23's oracle must be registered before we borrow it (import above)
    return run_funnel_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D21. streaming_retention — B24's cohort retention as O(1) per-user state

_RET_SINK = "d21_retention_sink"

_RET_OUT_SCHEMA = "cohort_day timestamp, day timestamp"
#: cohort day + last emitted day, int microseconds — O(1) state because
#: event-time order makes a user's active days arrive non-decreasing, so
#: "new day" is just day > last_day (no day-set needed)
_RET_STATE_SCHEMA = "cohort bigint, last_day bigint"

_RET_DAY_US = 24 * 3600 * 1_000_000


def _retention_fn(key, pdfs, state):
    """Per-user retention state machine: the first day seen is the
    cohort; each strictly-later day emits ONE (cohort_day, day) row —
    exactly-once per (user, day) via the monotone last_day bound."""
    import pandas as pd

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    days = sorted({(int(t) // _RET_DAY_US) * _RET_DAY_US for t in ts_us})
    cohort, last = state.get if state.exists else (-1, -1)
    out = []
    for d in days:
        if cohort < 0:
            cohort = d
        if d > last:
            out.append(d)
            last = d
    state.update((cohort, last))
    if out:
        yield pd.DataFrame(
            {
                "cohort_day": pd.to_datetime([cohort] * len(out), unit="us"),
                "day": pd.to_datetime(out, unit="us"),
            }
        )


def run_retention_stream(
    spark: SparkSession, path: str, sink: str = _RET_SINK, **source_options
) -> DataFrame:
    """Run the stateful retention stream over `path` to completion;
    returns B24's (cohort_day, day_offset, n_users) table.  Per-user
    state is TWO timestamps regardless of event volume or horizon; the
    sink holds one row per (user, active day) — the same cardinality
    B24's per-user day-dedup shuffles — and the retention matrix is the
    sink-sized rollup."""
    ev = (
        _events_stream(spark, path, **source_options)
        .select("user_id", "ts")
        .withWatermark("ts", "1 hour")
    )
    pairs = ev.groupBy("user_id").applyInPandasWithState(
        _retention_fn,
        outputStructType=_RET_OUT_SCHEMA,
        stateStructType=_RET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(spark, pairs, sink, "append")
    return (
        mem.groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register("streaming_retention", oracle=ORACLES["events_retention"])
def streaming_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24's cohort retention maintained by a stream (D21): O(1) per-user
    GroupState (cohort + last active day — event-time order makes the
    day set unnecessary), one emission per (user, active day); shares
    B24's oracle verbatim (full rows+schema+hash gate).  See
    run_retention_stream."""
    return run_retention_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D22. streaming_scd2 — B69's type-2 dimension maintained by a stream
# (changelog upserts + deterministic compaction)

_SCD_SINK = "d22_scd2_sink"

_SCD_OUT_SCHEMA = (
    "user_id bigint, version bigint, state string, valid_from timestamp, "
    "valid_to timestamp, is_current boolean, n_events bigint"
)
#: the OPEN run only: (version counter, run state, run start us, run event
#: count) — closed runs leave state the moment they emit, so per-user state
#: is O(1) regardless of history length
_SCD_STATE_SCHEMA = "version bigint, cur string, vfrom bigint, n bigint"


def _scd2_fn(key, pdfs, state):
    """Per-user SCD2 state machine: processing events in event-time order,
    a changed event_type CLOSES the open run (emit final row, valid_to =
    the changing event's ts) and opens the next version; the open run
    emits a SNAPSHOT row (valid_to NULL, is_current) once per batch it
    was touched in.  Closed rows are final and emitted exactly once;
    open snapshots form an upsert changelog superseded by n_events —
    the compaction in run_scd2_stream keeps one winner per version."""
    import pandas as pd

    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    ver, cur, vfrom, n = state.get if state.exists else (0, None, -1, 0)
    rows = []
    for t, etype in zip(ts_us, batch["event_type"]):
        t = int(t)
        if ver == 0 or etype != cur:
            if ver > 0:
                rows.append((ver, cur, vfrom, t, False, n))
            ver, cur, vfrom, n = ver + 1, etype, t, 1
        else:
            n += 1
    rows.append((ver, cur, vfrom, None, True, n))
    state.update((ver, cur, vfrom, n))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(rows),
            "version": [r[0] for r in rows],
            "state": [r[1] for r in rows],
            "valid_from": pd.to_datetime([r[2] for r in rows], unit="us"),
            "valid_to": pd.to_datetime(
                [r[3] for r in rows], unit="us", errors="coerce"
            ),
            "is_current": [r[4] for r in rows],
            "n_events": [r[5] for r in rows],
        }
    )


def run_scd2_stream(
    spark: SparkSession, path: str, sink: str = _SCD_SINK, **source_options
) -> DataFrame:
    """Run the stateful SCD2 build over `path` to completion; returns
    B69's versioned dimension.  The stream publishes a CHANGELOG (final
    closed-run rows + open-run snapshots) and the reader compacts it —
    exactly how a production streaming SCD2 feeds a lakehouse MERGE
    (B71 is the batch compaction twin).  Compaction winner per (user,
    version) = max n_events, closed beats open on ties: a closed row
    carries the run's final count, every snapshot of the same version a
    prefix count, and snapshots are strictly increasing in n_events, so
    the winner is unique and deterministic — no emission sequence column
    needed.  Sink size is runs + touched-versions-per-batch, dimension-
    sized, never event-volume-sized."""
    ev = (
        _events_stream(spark, path, **source_options)
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "1 hour")
    )
    log = ev.groupBy("user_id").applyInPandasWithState(
        _scd2_fn,
        outputStructType=_SCD_OUT_SCHEMA,
        stateStructType=_SCD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(spark, log, sink, "update")
    pick = PsWindow.partitionBy("user_id", "version").orderBy(
        F.col("valid_to").isNull().asc(), F.col("n_events").desc()
    )
    return (
        mem.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "version",
            "state",
            "valid_from",
            "valid_to",
            "is_current",
            "n_events",
        )
    )


@register("streaming_scd2", oracle=ORACLES["events_scd2_dimension"])
def streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B69's type-2 slowly-changing dimension maintained by a stream
    (D22): O(1) per-user GroupState (the open run only), changelog-upsert
    emission compacted deterministically by the reader; shares B69's
    oracle verbatim (full rows+schema+hash gate).  See run_scd2_stream."""
    return run_scd2_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D25. streaming_session_paths — B77's top-paths flow report maintained by
# a stream (per-user open-session state + changelog compaction)

_PTH_SINK = "d25_paths_sink"
_PTH_OUT_SCHEMA = (
    "user_id bigint, session_seq bigint, path string, n_events bigint, "
    "closed boolean"
)
#: the OPEN session only: counter, last event time, the first
#: _PTH_STEPS event types, event count — O(steps) per user
_PTH_STATE_SCHEMA = (
    "seq bigint, last_us bigint, path array<string>, n bigint"
)

_PTH_GAP_US = 30 * 60 * 1_000_000

from mapreduceimplementation_spark.plans.events import (  # noqa: E402
    _PATH_STEPS as _PTH_STEPS,
    _PATH_TOPK as _PTH_TOPK,
)


def _paths_fn(key, pdfs, state):
    """Per-user session-path state machine: a >30-min gap CLOSES the open
    session (its truncated path is final — emitted exactly once) and
    starts the next; the open session emits a per-batch snapshot
    superseded by growing n_events (D22's changelog discipline).  In-
    order processing makes 'first {_PTH_STEPS} events' well-defined
    across batch boundaries — the same event-time monotonicity D2's
    sessionization relies on."""
    import pandas as pd

    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    seq, last_us, path, n = (
        state.get if state.exists else (0, -1, [], 0)
    )
    path = list(path)
    rows = []
    for t, etype in zip(ts_us, batch["event_type"]):
        t = int(t)
        if last_us < 0 or t - last_us > _PTH_GAP_US:
            if seq > 0:
                rows.append((seq, ">".join(path), n, True))
            seq, path, n = seq + 1, [etype], 1
        else:
            n += 1
            if len(path) < _PTH_STEPS:
                path.append(etype)
        last_us = t
    rows.append((seq, ">".join(path), n, False))
    state.update((seq, last_us, path, n))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(rows),
            "session_seq": [r[0] for r in rows],
            "path": [r[1] for r in rows],
            "n_events": [r[2] for r in rows],
            "closed": [r[3] for r in rows],
        }
    )


def run_session_paths_stream(
    spark: SparkSession, path: str, sink: str = _PTH_SINK, **source_options
) -> DataFrame:
    """Run the stateful path miner over `path` to completion; returns
    B77's top-{_PTH_TOPK} (path, n_sessions, n_users, share_ppm) report.
    The sink holds one changelog row per (user, session) per touching
    batch — session-count-sized; compaction (closed beats open, then max
    n_events — unique by the D22 argument) yields the session table, and
    the report is its bounded rollup mirroring B77's exact frontier
    (n_sessions DESC, path; integer-ppm share)."""
    ev = (
        _events_stream(spark, path, **source_options)
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "1 hour")
    )
    log = ev.groupBy("user_id").applyInPandasWithState(
        _paths_fn,
        outputStructType=_PTH_OUT_SCHEMA,
        stateStructType=_PTH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(spark, log, sink, "update")
    pick = PsWindow.partitionBy("user_id", "session_seq").orderBy(
        F.col("closed").desc(), F.col("n_events").desc()
    )
    sessions = (
        mem.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("user_id", "path")
    )
    path_counts = sessions.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
    ).localCheckpoint(eager=False)
    total = path_counts.agg(F.sum("n_sessions").cast("long").alias("n_total"))
    return (
        path_counts.crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_sessions",
            "n_users",
            F.expr("(n_sessions * 1000000L) div n_total").alias("share_ppm"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PTH_TOPK)
    )


@register("streaming_session_paths", oracle=ORACLES["events_session_paths"])
def streaming_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B77's top session paths maintained by a LIVE stream (D25): per-user
    GroupState = the open session only (counter, last ts, first
    {_PTH_STEPS} types, count), gap-closure emits each session's final
    path exactly once, open-session snapshots ride the D22 changelog +
    compaction discipline; shares B77's oracle verbatim.  See
    run_session_paths_stream."""
    return run_session_paths_stream(
        spark, os.path.join(sf_dir, "events.parquet")
    )
