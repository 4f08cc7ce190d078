"""D4: watermarked stream-stream interval join (click→purchase attribution).

Two live streams — clicks and purchases — inner-joined on user_id with
the event-time constraint "purchase within 24 h after the click".  This
is Structured Streaming's hardest built-in operator: BOTH sides buffer
state, and the watermark + time-range condition are what let Spark
compute a provable state-eviction bound (a click can be dropped once the
purchase-side watermark passes click_ts + 24 h).  Without the range
condition the state is unbounded and the query is rejected — the
declared interval IS the scale contract.

The availableNow run over the file source produces every qualifying
pair, so the result equals the batch interval join exactly and the
driver's full rows+schema+hash gate applies (oracle below).  In
production the same query runs unmodified on Kafka sources.

Batch-side note (same plan family): a batch interval join on an equi-key
plus range filter is a SortMergeJoin on user_id with the range as a
join-level predicate — per-user fanout is bounded by the 24 h window, so
neither formulation explodes at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.registry import DENSITY_QUADRATIC, register
from mapreduceimplementation_spark.streaming.windowed import (
    _events_stream,
    run_to_memory,
)

_SINK = "d4_stream_join_sink"


def run_stream_join(
    spark: SparkSession, path: str, sink: str = _SINK, **source_options
) -> DataFrame:
    """Run the click⋈purchase stream-stream join over `path` to
    completion; return the joined pairs from the memory sink."""
    clicks = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 24 HOURS
            """
        ),
    ).select(
        "click_event_id",
        "purchase_event_id",
        "user_id",
        "click_ts",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    # INNER join: every match emits eagerly in the data batches; the
    # trailing no-data batch would only evict state (r11 profile: it cost
    # as much as the data batch — a full join-state scan + 32 store
    # commits for zero output rows), so it is skipped.
    return run_to_memory(spark, joined, sink, "append", skip_no_data_batch=True)


@register(
    "streaming_stream_join",
    oracle="""
    SELECT c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           c.user_id AS user_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS micros_after_click
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 24 HOURS
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution as a watermarked stream-stream join;
    equals the batch interval join (full hash gate)."""
    return run_stream_join(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D10. streaming_left_outer_join — unmatched-click attribution

_LOJ_SINK = "d10_left_outer_join_sink"

#: clicks entering the outer join are bounded by this DECLARED cutoff so
#: every click's eviction bound (cutoff + 24 h + 1 h delay) provably
#: precedes the final watermark in every testdata SF (events end
#: 2024-01-30 ~23:xx) — the B44 declared-bounds discipline applied to
#: stream state: unbounded trailing clicks can NEVER flush their NULL row
#: before an availableNow run terminates, which would make the streaming
#: result diverge from the batch twin by exactly the trailing window.
_LOJ_CLICK_CUTOFF = "2024-01-28 00:00:00"


def run_left_outer_join(
    spark: SparkSession, path: str, sink: str = _LOJ_SINK, **source_options
) -> DataFrame:
    """Run the click⟕purchase LEFT-OUTER interval join over `path` to
    completion; unmatched clicks emit one NULL-purchase row once the
    watermark passes their match window (state eviction)."""
    cutoff = F.lit(_LOJ_CLICK_CUTOFF).cast("timestamp")
    clicks = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        # watermark BEFORE the cutoff filter: the watermark node must see
        # ALL clicks, or the cutoff itself caps the clicks-side watermark
        # at (cutoff - delay) and the last ~25 h of kept clicks can never
        # evict (verified: 59 NULL rows silently missing at sf0.01).
        # Catalyst cannot push a predicate on the watermark column through
        # the watermark node, so the order is stable.
        .withWatermark("click_ts", "1 hour")
        .where(F.col("click_ts") < cutoff)
    )
    purchases = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 24 HOURS
            """
        ),
        "leftOuter",
    ).select(
        "click_event_id",
        "user_id",
        "click_ts",
        "purchase_event_id",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    return run_to_memory(spark, joined, sink, "append")


@register(
    "streaming_left_outer_join",
    oracle=f"""
    SELECT c.event_id AS click_event_id,
           c.user_id AS user_id,
           c.ts AS click_ts,
           p.event_id AS purchase_event_id,
           p.ts AS purchase_ts,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS micros_after_click
    FROM (SELECT * FROM events
          WHERE event_type = 'click'
            AND ts < TIMESTAMP '{_LOJ_CLICK_CUTOFF}') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 24 HOURS
    """,
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unmatched-click attribution: D4's interval join as a LEFT OUTER —
    the join semantics D4 doesn't cover, where the watermark actively
    FORCES output (a NULL row per expired unmatched click) rather than
    merely bounding state.  The availableNow run equals the batch
    left-outer twin exactly (full hash gate): matched pairs stream out as
    found; NULL rows emit at state eviction, flushed by the trailing
    no-data microbatch."""
    return run_left_outer_join(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D12. streaming_full_outer_join — both-sides-NULL attribution

_FOJ_SINK = "d12_full_outer_join_sink"

#: BOTH feeds are bounded by the declared cutoff: a click's NULL row
#: flushes once the purchase-side watermark passes click_ts + 24 h, and a
#: purchase's NULL row once the CLICK-side watermark passes purchase_ts
#: (its match window is [purchase_ts - 24 h, purchase_ts]) — so both
#: eviction bounds provably precede the final watermark in every testdata
#: SF (events end 2024-01-30 ~23:xx).  D10's discipline, applied to the
#: second buffer.
_FOJ_CUTOFF = "2024-01-28 00:00:00"


def run_full_outer_join(
    spark: SparkSession, path: str, sink: str = _FOJ_SINK, **source_options
) -> DataFrame:
    """Run the click⟗purchase FULL-OUTER interval join over `path` to
    completion: matched pairs stream out as found; each unmatched click
    AND each unmatched purchase emits one NULL row at state eviction —
    the only shape that exercises watermark-forced output on BOTH
    buffers."""
    cutoff = F.lit(_FOJ_CUTOFF).cast("timestamp")
    clicks = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        # watermark BEFORE the cutoff filter on BOTH sides (see D10: a
        # filter on the watermark column would cap that side's watermark
        # at cutoff - delay and strand the last day's NULL rows)
        .withWatermark("click_ts", "1 hour")
        .where(F.col("click_ts") < cutoff)
    )
    purchases = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
        .where(F.col("purchase_ts") < cutoff)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 24 HOURS
            """
        ),
        "fullOuter",
    ).select(
        "click_event_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_ts",
        "purchase_event_id",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    return run_to_memory(spark, joined, sink, "append")


@register(
    "streaming_full_outer_join",
    oracle=f"""
    SELECT c.event_id AS click_event_id,
           COALESCE(c.user_id, p.user_id) AS user_id,
           c.ts AS click_ts,
           p.event_id AS purchase_event_id,
           p.ts AS purchase_ts,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS micros_after_click
    FROM (SELECT * FROM events
          WHERE event_type = 'click'
            AND ts < TIMESTAMP '{_FOJ_CUTOFF}') c
    FULL JOIN (SELECT * FROM events
               WHERE event_type = 'purchase'
                 AND ts < TIMESTAMP '{_FOJ_CUTOFF}') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 24 HOURS
    """,
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides attribution: D4's interval join as a FULL OUTER — the
    one streaming join shape D4 (inner) and D10 (left outer) leave
    untested, stressing watermark eviction on BOTH state buffers (every
    unmatched row on either side must be force-flushed as a NULL row or
    the result silently diverges from the batch twin).  The availableNow
    run equals the batch full-outer interval join exactly (full hash
    gate), trailing NULLs flushed by the no-data microbatch."""
    return run_full_outer_join(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D16. streaming_asof_join — as-of (latest-click) attribution on streams

_ASOF_SINK = "d16_asof_join_sink"

#: purchases entering the as-of agg are bounded by this DECLARED cutoff so
#: every kept purchase's 24 h tumbling window END (epoch-aligned, so
#: exactly the cutoff) provably precedes the final watermark (events end
#: 2024-01-30 ~23:xx minus the 1 h delay and the join's propagation
#: adjustment) — the D10/D12 discipline applied to the chained agg: an
#: unbounded trailing window can NEVER finalize before an availableNow run
#: terminates, which silently drops the last days' purchases (verified:
#: 53 rows missing at sf0.01 without the cutoff).
_ASOF_PURCHASE_CUTOFF = "2024-01-28 00:00:00"


def run_asof_join(
    spark: SparkSession, path: str, sink: str = _ASOF_SINK, **source_options
) -> DataFrame:
    """AS-OF attribution on two live streams: each purchase joined to the
    single LATEST click by the same user in the preceding 24 h.  Spark has
    no native streaming as-of join; this composes it from two chained
    stateful operators — the D4 watermarked interval join producing all
    candidate (click, purchase) pairs, then a windowed aggregation taking
    per-purchase max(struct(click_ts, click_event_id)) — the Spark-4
    multi-stateful-operator pipeline (join state + agg state in one query,
    watermark propagated through the join into the agg finalization).

    Determinism: the argmax is a struct max — latest click_ts, then
    largest click_event_id on exact ties — the same total order the
    oracle's row_number states.  Emission: a purchase's group finalizes
    only when the watermark passes its 24 h tumbling window end, so the
    availableNow run (whose trailing no-data microbatch advances the
    watermark to +inf) emits every attributed purchase exactly once and
    equals the batch as-of join row-for-row (full hash gate).

    Scale shape: join state is bounded by the declared interval exactly as
    D4; agg state holds one struct per in-flight purchase (not per pair —
    partial aggregation collapses candidates as they arrive), keyed and
    evicted by window.  This is the streaming twin of the batch
    events_asof_join (B13), which uses a window-function last-value plan."""
    clicks = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, path, **source_options)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        # watermark BEFORE the cutoff filter (see run_left_outer_join: the
        # watermark node must see ALL purchases or the cutoff caps the
        # watermark below the last kept window's end)
        .withWatermark("purchase_ts", "1 hour")
        .where(F.col("purchase_ts") < F.lit(_ASOF_PURCHASE_CUTOFF).cast("timestamp"))
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 24 HOURS
            """
        ),
    )
    asof = (
        pairs.groupBy(
            # grouping may contain at most ONE event-time column: the
            # window() marker.  purchase_ts (also event-time after the
            # watermark) rides through max() instead — it is functionally
            # determined by purchase_event_id, so the max is exact.
            F.window("purchase_ts", "24 hours").alias("w"),
            "purchase_event_id",
            "p_user_id",
        )
        .agg(
            F.max(F.struct("click_ts", "click_event_id")).alias("best"),
            F.max("purchase_ts").alias("purchase_ts"),
        )
        .select(
            "purchase_event_id",
            F.col("p_user_id").alias("user_id"),
            "purchase_ts",
            F.col("best.click_event_id").alias("click_event_id"),
            F.col("best.click_ts").alias("click_ts"),
            (
                F.unix_micros("purchase_ts") - F.unix_micros(F.col("best.click_ts"))
            ).alias("micros_since_click"),
        )
    )
    return run_to_memory(spark, asof, sink, "append")


@register(
    "streaming_asof_join",
    oracle=f"""
    SELECT purchase_event_id, user_id, purchase_ts,
           click_event_id, click_ts,
           CAST(epoch_us(purchase_ts) - epoch_us(click_ts) AS BIGINT)
               AS micros_since_click
    FROM (
        SELECT p.event_id AS purchase_event_id,
               p.user_id AS user_id,
               p.ts AS purchase_ts,
               c.event_id AS click_event_id,
               c.ts AS click_ts,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND c.event_type = 'click'
         AND p.ts < TIMESTAMP '{_ASOF_PURCHASE_CUTOFF}'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 24 HOURS
    ) WHERE rn = 1
    """,
)
def streaming_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AS-OF join (latest click before each purchase) — the
    operator Spark lacks natively, composed as interval-join -> windowed
    argmax (two chained stateful operators); availableNow result equals
    the batch as-of join exactly.  See run_asof_join."""
    return run_asof_join(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# D18. streaming_transition_matrix — B74's Markov estimate on a live stream

_TRM_SINK = "d18_transition_sink"

#: adjacency horizon: a transition only counts when the previous event is
#: within this bound — the DECLARED interval that makes prev-side state
#: evictable (a streaming lag() with no horizon would buffer forever;
#: this is the D16 cutoff discipline applied to B74's semantics)
_TRM_HORIZON_H = 24

#: next-events cutoff so every 24 h count window provably finalizes
#: before the availableNow no-data microbatch (see _ASOF_PURCHASE_CUTOFF)
_TRM_CUTOFF = "2024-01-28 00:00:00"


def run_transition_matrix(
    spark: SparkSession, path: str, sink: str = _TRM_SINK, **source_options
) -> DataFrame:
    """First-order Markov transition counts on a live stream: per UTC day,
    how many (prev_type -> next_type) adjacencies occurred — B74's
    estimator with a declared {_TRM_HORIZON_H} h adjacency horizon.

    Streaming lag() does not exist; this composes it from THREE chained
    stateful operators (the Spark-4 multi-stateful pipeline, one query):
      1. watermarked interval self-join — all candidate (prev, next)
         pairs by the same user within the horizon, with the strict
         (ts, event_id) order as an extra join predicate;
      2. windowed argmax — per next-event max(struct(prev_ts,
         prev_event_id, prev_type)) = THE immediately-preceding event
         (identical total order to batch lag());
      3. chained windowed count onto the (day, prev_type, next_type)
         matrix via window-of-window re-aggregation (SPARK-40925).
    The availableNow run equals the batch lag-with-horizon twin exactly
    (full hash gate).

    Scale shape: join state bounded by the horizon on both sides; argmax
    state is one struct per in-flight next-event (partial agg collapses
    candidates); the count state is the matrix itself — bounded by
    #types² x days, the mergeable-monoid shape.  At 100 TB/day none of
    the three states grows with history.

    Honest cost note (measured, SCALE_r07.json): the candidate-pair
    VOLUME through the join is ∝ per-user activity within the horizon
    SQUARED — the replica inflation (same users, 10x denser) drives
    10x data to ~15.7x wall, the events_funnel_attribution class
    (real growth adds users, which scales linearly; per-user density is
    data-model-bounded).  Where per-user density is genuinely high,
    shrink the declared horizon (volume ∝ density x horizon) or switch
    to the applyInPandasWithState lag (linear, one event of state per
    user — D2's Python-state tradeoff: ~2x slower per row than JVM
    state, no batch-plan reuse)."""
    prevs = (
        _events_stream(spark, path, **source_options)
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_type").alias("p_type"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    nexts = (
        _events_stream(spark, path, **source_options)
        .select("event_id", "user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .where(F.col("ts") < F.lit(_TRM_CUTOFF).cast("timestamp"))
    )
    pairs = nexts.join(
        prevs,
        F.expr(
            f"""
            user_id = p_user_id AND
            p_ts >= ts - INTERVAL {_TRM_HORIZON_H} HOURS AND
            (p_ts < ts OR (p_ts = ts AND p_event_id < event_id))
            """
        ),
    )
    prev_pick = (
        pairs.groupBy(
            F.window("ts", "24 hours").alias("w"),
            "event_id",
        )
        .agg(
            F.max(
                F.struct("p_ts", "p_event_id", "p_type")
            ).alias("best"),
            F.max("event_type").alias("next_type"),
        )
        .select("w", F.col("best.p_type").alias("prev_type"), "next_type")
    )
    matrix = (
        prev_pick.groupBy(
            F.window("w", "24 hours").alias("day_w"),
            "prev_type",
            "next_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("day_w.start").alias("day"),
            "prev_type",
            "next_type",
            "n",
        )
    )
    return run_to_memory(spark, matrix, sink, "append")


@register(
    "streaming_transition_matrix_interval_join",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT time_bucket(INTERVAL 24 HOURS, ts) AS day,
           prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
      AND ts < TIMESTAMP '{_TRM_CUTOFF}'
      AND prev_ts >= ts - INTERVAL {_TRM_HORIZON_H} HOURS
    GROUP BY 1, 2, 3
    """,
    tags=(DENSITY_QUADRATIC,),
)
def streaming_transition_matrix_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Markov transition matrix, interval-join decomposition
    (D18) — B74 on a live stream via interval-self-join -> windowed
    argmax -> chained windowed count (three stateful operators, one
    query); availableNow equals the batch lag-with-horizon twin exactly.
    See run_transition_matrix.

    DENSITY_QUADRATIC (VERDICT r7), and therefore DEMOTED off the plain
    key (VERDICT r8 item 3): the interval self-join's candidate volume
    is ∝ per-user in-horizon events² (measured 21.6x wall at 10x replica
    inflation, SCALE_r08.json), so on hot users this plan is a
    scale-killer.  The plain ``streaming_transition_matrix`` key now
    serves the LINEAR custom-state lag; this explicitly-named variant
    stays registered as the JVM-state-only alternative (no Python
    workers in the hot path) for feeds known to sit at or below
    ``D18_MAX_EVENTS_PER_USER_IN_HORIZON`` — route by density via
    ``pick_transition_matrix_impl``."""
    return run_transition_matrix(
        spark, os.path.join(sf_dir, "events.parquet")
    )


# ---------------------------------------------------------------------------
# D19. streaming_transition_matrix (the plain key since r9) — the LINEAR
# streaming lag (applyInPandasWithState; the pair to D18's join+argmax
# decomposition, exactly as D2/D6 pair the custom-state and built-in
# sessionize paths)

_TRS_SINK = "d19_transition_state_sink"

_TRS_OUT_SCHEMA = (
    "day timestamp, prev_type string, next_type string"
)
#: per-user state: the single most recent event (timestamp in int
#: microseconds — portable — plus the (event_id) tie-break and its type)
_TRS_STATE_SCHEMA = "ts_us bigint, event_id bigint, event_type string"

_TRS_HORIZON_US = _TRM_HORIZON_H * 3600 * 1_000_000
_TRS_DAY_US = 24 * 3600 * 1_000_000


def _transition_fn(key, pdfs, state):
    """Per-user streaming lag: state = the last event seen; each event
    emits one (day, prev_type, next_type) transition when the gap is
    inside the horizon, then becomes the new state.  O(1) state and O(1)
    work per event — the linear shape D18's interval join can't give."""
    import pandas as pd

    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    prev = list(state.get) if state.exists else None

    days, prevs, nexts = [], [], []
    ts_us = batch["ts"].astype("int64") // (
        1000 if batch["ts"].dtype == "datetime64[ns]" else 1
    )
    for t, eid, etype in zip(ts_us, batch["event_id"], batch["event_type"]):
        t = int(t)
        if prev is not None and t - prev[0] <= _TRS_HORIZON_US:
            days.append((t // _TRS_DAY_US) * _TRS_DAY_US)
            prevs.append(prev[2])
            nexts.append(etype)
        prev = [t, int(eid), etype]
    state.update((prev[0], prev[1], prev[2]))
    if days:
        yield pd.DataFrame(
            {
                "day": pd.to_datetime(days, unit="us"),
                "prev_type": prevs,
                "next_type": nexts,
            }
        )


def transition_state_stream(
    spark: SparkSession, path: str, **source_options
) -> DataFrame:
    """The un-sunk D19 stateful stream (per-transition rows): the
    registered query sinks it to memory; the checkpoint-recovery pytest
    sinks it to an exactly-once FILE sink (the memory sink cannot
    recover from a checkpoint — Spark rejects the combination)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        _events_stream(spark, path, **source_options)
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "1 hour")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRS_OUT_SCHEMA,
        stateStructType=_TRS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_transition_matrix_state(
    spark: SparkSession,
    path: str,
    sink: str = _TRS_SINK,
    **source_options,
) -> DataFrame:
    """B74's Markov estimate as a CUSTOM STATEFUL operator: per-user
    GroupState holds exactly the last event, so every arriving event
    emits its one true lag transition — candidate volume is the event
    volume, NOT the per-user in-horizon pair volume that makes D18's
    join+argmax decomposition quadratic in user density (measured 15.7x
    at 10x replica inflation; this path is the linear fix at the D2
    Python-state cost: Arrow transfer + pickled per-group state instead
    of JVM state-store rows).

    No cutoff needed: transitions emit in append mode the moment the
    next event arrives (nothing waits on a window finalization), so this
    path also covers the trailing days D18's declared cutoff excludes.
    Event-time order across batches per user is assumed (the upstream
    watermark enforces it in production; within a batch events are
    sorted) — the same contract as D2.

    The sink holds per-transition rows; the matrix rollup is the
    downstream aggregation (at deploy: a sink table + a batch/continuous
    rollup — or chain a windowed count after the stateful op)."""
    trans = transition_state_stream(spark, path, **source_options)
    mem = run_to_memory(spark, trans, sink, "append")
    return (
        mem.groupBy("day", "prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "streaming_transition_matrix",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT time_bucket(INTERVAL 24 HOURS, ts) AS day,
           prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
      AND prev_ts >= ts - INTERVAL {_TRM_HORIZON_H} HOURS
    GROUP BY 1, 2, 3
    """,
)
def streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition matrix (D19) — the PLAIN key a
    registry user hits, and since r9 (VERDICT r8 item 3) it serves the
    LINEAR applyInPandasWithState lag: one event of state per user, one
    transition per event — linear where the interval-join decomposition
    (``streaming_transition_matrix_interval_join``) is quadratic in
    per-user density (2.26x vs 21.6x wall at 10x replica inflation,
    SCALE_r08.json); also needs no event-time cutoff (covers the full
    feed).  See run_transition_matrix_state and
    ``pick_transition_matrix_impl`` for the density routing rule."""
    return run_transition_matrix_state(
        spark, os.path.join(sf_dir, "events.parquet")
    )


# ---------------------------------------------------------------------------
# D18 vs D19 routing rule (VERDICT r7 item 2): the density threshold as
# an API, not folklore.

#: Expected per-user in-horizon event count above which D18's interval
#: self-join loses to D19's per-event state path.  Why ~8: D18's join
#: emits ~d²/2 candidate pairs per user per horizon vs D19's d state
#: transitions, but D19 pays the Python-worker toll (Arrow transfer +
#: pickled state, measured ~2x a JVM stage on this box at sf0.1 density
#: d≈3 where the two paths roughly tie: D18 7.5s vs D19 4.1s includes
#: D19's fixed worker spin-up).  Candidate volume parity d²/2 ≈ 2·d
#: gives d ≈ 4; doubling for the JVM's per-row advantage lands at 8 —
#: and the 10x-replica measurement (d≈30: D18 19.25x vs D19 1.81x)
#: confirms the crossover sits well below that density.
D18_MAX_EVENTS_PER_USER_IN_HORIZON = 8.0


def pick_transition_matrix_impl(expected_events_per_user_in_horizon: float):
    """Route between the two registered streaming transition-matrix
    plans by expected per-user density within the lag horizon
    (_TRM_HORIZON_H hours): at or below
    ``D18_MAX_EVENTS_PER_USER_IN_HORIZON`` the JVM-state-only interval
    join + argmax (no Python workers) is acceptable; above it its ∝ d²
    candidate volume makes the linear custom-state lag mandatory.
    Estimate d from the feed's own history, e.g.
    ``events_in_last_horizon / distinct_users_in_last_horizon``.

    Since r9 the PLAIN ``streaming_transition_matrix`` key is the linear
    plan (VERDICT r8 item 3) — a registry user who never calls this
    router gets the scale-safe path by default, and opting into the
    quadratic decomposition requires naming
    ``streaming_transition_matrix_interval_join`` explicitly.

    Returns the registered (spark, sf_dir) -> DataFrame callable."""
    if expected_events_per_user_in_horizon <= D18_MAX_EVENTS_PER_USER_IN_HORIZON:
        return streaming_transition_matrix_interval_join
    return streaming_transition_matrix
