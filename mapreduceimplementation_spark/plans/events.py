"""Event-stream batch analytics (SURVEY.md §2 B7–B9): windowed aggregation,
gap sessionization, JSON prop extraction.  All pure built-ins — the same
plans re-run under Structured Streaming in streaming/ (D1)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.functions.stable import dsum, sql_dsum
from mapreduceimplementation_spark.functions.stable import (
    half_away,
    round6,
    sql_half_away,
    sql_round6,
)
from mapreduceimplementation_spark.registry import DENSITY_QUADRATIC, register
from mapreduceimplementation_spark.sources.tables import load_table


@register(
    "events_minutely",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute aggregation — the batch twin of D1's streaming
    window.  Single shuffle; distinct-user count is partial-aggregated."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id", "value")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, event_id, value,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {sql_dsum('value')} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization with windows only (lag + running sum) —
    no Python, no iterative state.  One shuffle on user_id serves both
    window functions and the final aggregate (same partition key)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("total_value"),
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON prop → typed column → aggregate.
    get_json_object runs JVM-side; at scale prefer from_json with an
    explicit schema so the parse is vectorized once."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type", (k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_asof_join",
    oracle="""
    SELECT event_id, user_id, ts, value, click_event_id, click_ts,
           CAST(epoch_us(ts) - epoch_us(click_ts) AS BIGINT) AS micros_since_click
    FROM (
        SELECT event_id, user_id, ts, event_type, value,
               last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                   OVER w AS click_event_id,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER w AS click_ts
        FROM events
        WHERE event_type IN ('click', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'purchase' AND click_ts IS NOT NULL
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the same user's most
    recent strictly-prior click (inner as-of, DuckDB's ASOF JOIN default:
    purchases with no prior click are dropped).

    Spark has no ASOF JOIN operator, but when both sides share the
    partition key the scalable formulation is not a join at all: filter
    both event types in ONE scan, window over (user_id, ts) and carry the
    last click forward with last(..., ignorenulls).  One shuffle on
    user_id, no candidate-pair explosion, no range-join blowup — at
    100 TB this is a single exchange of the two filtered event types,
    and per-user ordering bounds the state exactly like sessionize (B8).
    Tie-break (ts, event_id) makes the match deterministic; the gap is
    computed in integer microseconds (unix_micros / epoch_us) so both
    engines agree exactly on sub-second timestamps.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    enriched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event_id"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    return enriched.where(
        (F.col("event_type") == "purchase") & F.col("click_ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "click_event_id",
        "click_ts",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("micros_since_click"),
    )


@register(
    "events_minutely_json",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_minutely_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7's plan over the JSON-lines source instead of parquet —
    format-parity gate: the oracle is IDENTICAL to events_minutely's, so a
    green row proves the JSON read (explicit schema, explicit
    timestampFormat, FAILFAST) is value-exact against the parquet twin
    including sub-second timestamps and double round-trip."""
    from mapreduceimplementation_spark.sources.jsonl import read_events_jsonl

    ev = read_events_jsonl(spark, sf_dir).select("ts", "event_type", "user_id", "value")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "events_value_percentiles",
    oracle=f"""
    SELECT event_type,
           {sql_round6('quantile_cont(value, 0.5)')} AS p50,
           {sql_round6('quantile_cont(value, 0.9)')} AS p90,
           {sql_round6('quantile_cont(value, 0.99)')} AS p99,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    type — Spark's `percentile` and DuckDB's `quantile_cont` implement the
    same linear interpolation, so the results match to the rounded digit.

    Scale note: EXACT percentile buffers each group's values in the
    aggregation state, which is fine when group cardinality is bounded
    (5 event types) but per-group volume still scales with data — on a
    100 TB feed swap to approx_percentile(value, p, accuracy) per
    t-digest/GK, trading the oracle-exact gate for bounded memory.  This
    operator is the exact baseline that pins the approximate one's error."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").agg(
        round6(F.percentile("value", F.lit(0.5))).alias("p50"),
        round6(F.percentile("value", F.lit(0.9))).alias("p90"),
        round6(F.percentile("value", F.lit(0.99))).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_running_total",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
    FROM events
    """,
)
def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total of event value — the cumulative-window
    staple (account balances, usage meters, budget burn-down).

    One shuffle on user_id; the prefix sum accumulates EXACT decimals
    (per-row double→decimal cast is order-independent, and the frame
    order is total via the (ts, event_id) tie-break), then casts back to
    double — so every prefix, not just the final total, is bit-identical
    across engines and partitionings."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double")
        .alias("running_total"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).cast("int").alias("seq"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_type_pivot",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           {", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                      for t in _EVENT_TYPES)}
    FROM events
    GROUP BY 1
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per type — the
    wide-format report every BI consumer asks for.

    The pivot value list is EXPLICIT: with values supplied, Spark skips
    the extra distinct-scan job it otherwise runs to discover them, and
    the output schema is fixed (a 100 TB pipeline cannot let data content
    decide its schema).  Spark plans pivot as two phases — groupBy(day,
    type) cells, then pivot-to-columns per day — so there are two
    exchanges, but BOTH carry already-aggregated cells (≤ days x types
    rows), never raw events.  Absent combinations are 0, not null,
    matching the SQL CASE formulation."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    )
    piv = (
        ev.groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@register(
    "events_rollup",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass: (day, type) cells, per-day
    subtotals, and the grand total via ROLLUP — one aggregation instead
    of three queries over the same 100 TB scan.  NULL dimension values
    encode the subtotal levels (real dims are never null here, so levels
    are unambiguous and the row set hash-matches the SQL ROLLUP)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type", "value"
    )
    return ev.rollup("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "events_minutely_csv",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_minutely_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7's plan over the CSV source — the third ingestion-format parity
    gate (parquet == JSON-lines == CSV).  The oracle is IDENTICAL to
    events_minutely's, so a green row proves the CSV read (explicit
    schema + header, quote/escape doubling for the comma-bearing props
    column, FAILFAST) is value-exact against the parquet twin including
    µs timestamps and shortest-round-trip doubles."""
    from mapreduceimplementation_spark.sources.csv import read_events_csv

    ev = read_events_csv(spark, sf_dir).select("ts", "event_type", "user_id", "value")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "events_moving_avg",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {sql_round6('''CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
                 / COUNT(value) OVER w''')} AS avg_last10,
           CAST(COUNT(value) OVER w AS BIGINT) AS n_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average of the last 10 events — the bounded-frame
    window staple (smoothing, rate trending), complementing B18's
    unbounded running total.

    One shuffle on user_id; the bounded ROWS frame means per-row state is
    10 values regardless of history length (an unbounded frame's state
    grows with the partition; a bounded one is what you run on an
    unbounded-retention 100 TB event store).  The numerator accumulates
    exact decimals and the quotient is rounded at the final projection,
    so every window's average is bit-identical across engines and
    partitionings."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        round6(
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("avg_last10"),
        F.count("value").over(w).cast("long").alias("n_window"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events
    ), s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ), s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                      OVER (PARTITION BY user_id) AS t_purchase
        FROM s2
    ), per_user AS (
        SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
               max(t_purchase) AS t_purchase
        FROM s3 GROUP BY user_id
    ), c AS (
        SELECT count(t_view) AS n_view, count(t_click) AS n_click,
               count(t_purchase) AS n_purchase
        FROM per_user
    )
    SELECT '1_view' AS stage, n_view AS n_users FROM c
    UNION ALL SELECT '2_click', n_click FROM c
    UNION ALL SELECT '3_purchase', n_purchase FROM c
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: how many users did view -> click ->
    purchase *in time order* (each stage strictly after the user's first
    completion of the previous one) — the product-analytics staple that a
    plain per-type distinct count gets wrong (it ignores ordering).

    Plan shape: the three stage timestamps are chained whole-partition
    min-over-window expressions on the SAME partitionBy(user_id) — one
    exchange, three Window nodes, no self-joins (a join-per-stage
    formulation shuffles the events table once per stage).  The per-user
    reduction and the final 3-row stack are a tiny follow-up aggregate on
    the already-partitioned data."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    return counts.select(
        F.expr(
            "stack(3, '1_view', n_view, '2_click', n_click,"
            " '3_purchase', n_purchase) AS (stage, n_users)"
        )
    )


@register(
    "events_retention",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events
    ), coh AS (
        SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM act
    )
    SELECT cohort_day,
           date_diff('day', cohort_day, day) AS day_offset,
           count(*) AS n_users
    FROM coh GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users are cohorted by their first active day;
    each (cohort_day, day_offset) cell counts how many of them were
    active that many days later — the growth-analytics staple behind
    every retention curve.

    Plan shape: ONE exchange on user_id builds each user's active-day
    set via a partial-aggregated collect_set (bounded by the retention
    horizon in days — per-user state is ≤ a few hundred dates no matter
    how many raw events, so no hot-user blowup); the cohort is
    array_min of that set (no second pass, no window), and the final
    per-cell count is a second, already-tiny exchange.  Counting rows
    after the per-user day-dedup equals distinct users without a
    count-distinct aggregate."""
    # day stays a midnight TIMESTAMP (not DATE): both engines' pandas
    # bridges agree on timestamps, and it matches events_minutely's
    # truncation convention
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    act = ev.groupBy("user_id").agg(F.collect_set("day").alias("days"))
    per = act.select(
        F.array_min("days").alias("cohort_day"),
        F.explode("days").alias("day"),
    )
    return per.groupBy(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "events_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT day, d.event_type, c,
           {sql_half_away('''(c - s1 * 1.0 / n)
                 / sqrt((n * s2 - s1 * s1) * 1.0 / (n * n))''', 4)} AS z
    FROM daily d JOIN stats s ON s.event_type = d.event_type
    WHERE n * s2 > s1 * s1
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomaly score: each (day, event_type) count's z-score
    against that type's distribution over the whole window — the ops
    staple behind traffic-spike and outage detection.

    Determinism is the point of the formulation: counts are integers and
    n, Σc and Σc² are EXACT (a float stddev aggregate would vary with
    partition merge order); mean and population variance are derived from
    those exact sums in a fixed expression order, and the z-score is
    rounded at the final projection — bit-stable on any engine or
    partitioning.  Σc² and the variance products n*s2 / s1*s1 are
    computed in DECIMAL(38,0) — with the c*c cast INSIDE the sum: a long
    c*c wraps silently once a cell's count nears ~3e9 (c² ~ 9e18 > 2^63),
    exactly the 100 TB scale this formulation targets — while DuckDB
    promotes to HUGEINT; decimal keeps both engines exact to 1e38.  Plan: ONE scan and one partial-agg
    exchange build the
    daily cells; the per-type stats are whole-partition window sums over
    those already-aggregated cells (bounded by the day horizon), so the
    events table is never read or aggregated a second time — a
    groupBy-stats + join-back formulation plans two full scans because
    Spark does not reuse the daily subtree across consumers (same lesson
    as tfidf's df window).  Constant-count types (zero variance) are
    excluded rather than divided by zero."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    return anomaly_from_daily(daily)


def anomaly_from_daily(daily: DataFrame) -> DataFrame:
    """The z-score detector over a (day, event_type, c) daily-cell table —
    factored out of events_anomaly so D23 runs the SAME detector over
    cells maintained incrementally by a stream (one definition, no drift
    channel between the batch and streaming twins).  Exact-integer-sum
    determinism contract documented in events_anomaly."""
    w = Window.partitionBy("event_type")
    # the c*c product is cast to DECIMAL(38,0) BEFORE the sum — summing
    # long products would overflow at exactly the ~3e9-events-per-type
    # scale the decimal formulation exists for
    cd = F.col("c").cast("decimal(38,0)")
    stats = daily.select(
        "day",
        "event_type",
        "c",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(cd).over(w).alias("s1"),
        F.sum(cd * F.col("c")).over(w).alias("s2"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    s1d = F.col("s1").cast("decimal(38,0)")
    s2d = F.col("s2").cast("decimal(38,0)")
    var = (nd * s2d - s1d * s1d).cast("double") / (
        F.col("n") * F.col("n")
    )
    return stats.where(nd * s2d > s1d * s1d).select(
        "day",
        "event_type",
        "c",
        half_away((F.col("c") - F.col("s1") * 1.0 / F.col("n")) / F.sqrt(var), 4).alias(
            "z"
        ),
    )


_INC_CUT = "2024-01-26 12:30:30"  # deliberately mid-minute: windows straddle it


@register(
    "events_minutely_incremental",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_minutely_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup refresh: the B7/D1 minutely aggregate computed
    as BASE (events before a cut) merged with DELTA (events after),
    re-aggregated — the materialized-view maintenance pattern that lets a
    100 TB rollup absorb a day's delta without re-scanning history.

    The oracle is the FULL single-pass aggregation, so the green row IS
    the proof that the merge is exact: counts add, and the value sums
    are merged as exact DECIMAL partials (only the merged result is cast
    to double — merging the rounded doubles would drift).  countDistinct
    is deliberately absent: it is not mergeable, which is exactly why
    production rollups carry HLL sketches instead (the envelope pytest
    covers that swap).  The cut falls MID-minute, so straddled windows
    exist in both halves and the merge visibly re-combines them.

    Plan: each half's scan carries the pushed ts predicate (base and
    delta read disjoint row sets — at scale the delta scan touches only
    new partitions), each partial-aggregates before its exchange, and
    the merge is a second tiny aggregation over rollup-sized rows."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cut = F.lit(_INC_CUT).cast("timestamp")

    def half(pred):
        return (
            ev.where(pred)
            .groupBy(F.date_trunc("minute", "ts").alias("minute"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(27,6)")).alias("tv"),
            )
        )

    base = half(F.col("ts") < cut)
    delta = half(F.col("ts") >= cut)
    return (
        base.unionByName(delta)
        .groupBy("minute", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("tv").cast("double").alias("total_value"),
        )
    )


@register(
    "events_minutely_orc",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS minute,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_minutely_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7's plan over the ORC source — the fourth ingestion-format parity
    gate, and the typed-columnar one (parquet == ORC beside the text
    feeds JSON-lines == CSV == wholetext).  The oracle is IDENTICAL to
    events_minutely's, so a green row proves the ORC read round-trips
    µs timestamps (under the UTC session) and doubles value-exactly —
    the type-system drift class of bug, which no string-format parity
    query can catch (sources/orc.py)."""
    from mapreduceimplementation_spark.sources.orc import read_events_orc

    ev = read_events_orc(spark, sf_dir).select("ts", "event_type", "user_id", "value")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# B36. events_value_histogram

_HIST_WIDTH = 50.0  # bin width; values observed in [0, ~500)
_HIST_BINS = 10  # bins 0..9 cover [0, 500); bin 10 = overflow


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(LEAST(FLOOR(value / {_HIST_WIDTH}), {_HIST_BINS}) AS BIGINT) AS bin,
           ROUND(LEAST(FLOOR(value / {_HIST_WIDTH}), {_HIST_BINS}) * {_HIST_WIDTH}, 2) AS bin_lo,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    report behind every monitoring dashboard.  Bins are FIXED-width
    (declared, not data-derived): at 100 TB the bin edges cannot depend
    on a min/max pre-pass, and fixed edges make histograms mergeable
    across days/partitions (sum cells) exactly like B28's rollup merge.

    One scan, one partial-agg exchange on the tiny (type, bin) key
    space; the bin function floor(value/width) with an overflow bin is
    IEEE-identical in both engines (one double divide + floor — no
    accumulated float state), so even cell boundaries are
    engine-exact."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bin_ = F.least(F.floor(F.col("value") / _HIST_WIDTH), F.lit(_HIST_BINS))
    return (
        ev.select(
            "event_type",
            bin_.cast("long").alias("bin"),
            F.round(bin_ * _HIST_WIDTH, 2).alias("bin_lo"),
        )
        .groupBy("event_type", "bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# B44. events_minutely_gapfill

_GF_LO = "2024-01-05 00:00:00"
_GF_HI = "2024-01-07 00:00:00"  # exclusive: spine covers 2 days of minutes


@register(
    "events_minutely_gapfill",
    oracle=f"""
    WITH cells AS (
        SELECT date_trunc('minute', ts) AS minute, event_type,
               count(*) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM events
        WHERE ts >= TIMESTAMP '{_GF_LO}' AND ts < TIMESTAMP '{_GF_HI}'
        GROUP BY 1, 2
    ),
    types AS (SELECT DISTINCT event_type FROM cells),
    spine AS (
        SELECT t.event_type, s.minute
        FROM types t, (
            SELECT unnest(generate_series(
                TIMESTAMP '{_GF_LO}',
                TIMESTAMP '{_GF_HI}' - INTERVAL 1 MINUTE,
                INTERVAL 1 MINUTE)) AS minute
        ) s
    )
    SELECT s.minute, s.event_type,
           COALESCE(c.n_events, 0) AS n_events,
           COALESCE(c.total_value, 0.0) AS total_value,
           c.minute IS NULL AS is_gap
    FROM spine s
    LEFT JOIN cells c
      ON s.minute = c.minute AND s.event_type = c.event_type
    """,
)
def events_minutely_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled minutely rollup over a DECLARED window — the
    hypertable `time_bucket_gapfill` / dashboard-resample operation:
    every (minute, type) cell of the window is present, zero-filled and
    flagged where no events landed (a dashboard that skips empty minutes
    hides exactly the outage it exists to show).

    Scale shape: the spine is DERIVED FROM DECLARED BOUNDS, not a
    min/max pre-pass over the data (B36's declared-edges discipline —
    no extra scan, and the window is what the report promised, even when
    the data starts late or ends early).  Spine size = window minutes x
    observed types: generated by exploding one sequence() per type off
    the AGGREGATED relation — bounded by report shape, independent of
    event volume.  The fact scan carries the pushed ts-range filter,
    aggregates once on the tiny (minute, type) key, then left-joins the
    spine (both sides cell-sized).  is_gap survives as the explicit
    outage signal."""
    lo = F.lit(_GF_LO).cast("timestamp")
    hi = F.lit(_GF_HI).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    ).select("ts", "event_type", "value")
    cells = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("minute"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .localCheckpoint()  # tiny; feeds the type list AND the join probe
    )
    spine = (
        cells.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(lo, hi - F.expr("INTERVAL 1 MINUTE"), F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute"),
        )
    )
    c = cells.select(
        F.col("minute").alias("c_minute"),
        F.col("event_type").alias("c_type"),
        "n_events",
        "total_value",
    )
    return (
        spine.join(
            c,
            (spine.minute == c.c_minute) & (spine.event_type == c.c_type),
            "left",
        )
        .select(
            "minute",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            F.col("c_minute").isNull().alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# B45. events_daily_users


@register(
    "events_daily_users",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           {sql_round6('count(*) * 1.0 / count(DISTINCT user_id)')}
               AS events_per_user
    FROM events
    GROUP BY 1
    """,
)
def events_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — THE count-distinct-at-scale exhibit.  Exact
    COUNT(DISTINCT user_id) per day plus events-per-user intensity.

    Scale shape: Spark plans exact distinct as a two-phase expand —
    partial per-(day, user) de-dup map-side, then the final per-day
    count — so the exchange carries one row per (day, user), bounded by
    true daily actives, not event volume.  This is the exact baseline:
    at 100 TB with hundreds of millions of daily actives the swap is
    approx_count_distinct (HLL++, mergeable fixed-size sketches, no
    per-user rows at all) — the swap's error envelope is pinned within
    5% against this exact twin per day in tests/test_tpch_extra.py
    (and per type in tests/test_pipeline.py), the same
    exact-pins-approx contract as B17's percentiles."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "day",
            "n_users",
            "n_events",
            round6(F.col("n_events") / F.col("n_users")).alias(
                "events_per_user"
            ),
        )
    )


# ---------------------------------------------------------------------------
# B46. events_trailing_window


@register(
    "events_trailing_window",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
)
def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity: for every event, the user's
    event count and value sum over the PRECEDING HOUR — the rate-limit /
    velocity-check / fraud-scoring staple, and the TIME-RANGE window
    frame (B22's moving average is the ROWS-frame dual: last-10-events
    there, last-60-minutes here; the frames differ whenever event
    spacing is uneven, which is exactly when velocity matters).

    Scale shape: one exchange on user_id; within each user the RANGE
    frame is evaluated over a sliding two-pointer pass, so per-row cost
    is amortized O(1) and per-user state is bounded by the hour's event
    rate — the frame you can run on unbounded history, like B22.  Frame
    membership is an exact integer-microsecond comparison (Spark orders
    by unix_micros with a ±µs-long range; DuckDB by timestamp with an
    INTERVAL bound — identical [ts-1h, ts] inclusive set, RANGE peers
    included by definition in both), and the frame sum accumulates exact
    DECIMAL — bit-stable at any partitioning."""
    from pyspark.sql.window import Window

    hour_us = 3_600_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-hour_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double").alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# B48. events_exact_median


@register(
    "events_exact_median",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           {sql_round6('median(value)')} AS median_value
    FROM events
    """,
)
def events_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of the value column, computed at scale — the
    order-statistic dual of B17: Spark's exact `percentile` aggregate
    buffers every (distinct value, count) pair per group in executor
    memory, which a 100 TB global aggregation cannot afford, and
    approx_percentile trades exactness away.  This plan gets the exact
    answer with bounded memory everywhere.

    Scale shape: A5's distributed_rank machinery (range exchange +
    per-partition row_number + broadcast per-partition offsets — no
    single-partition stage, no value buffering) assigns each row its
    global rank by (value, event_id); the two middle ranks ride a
    one-row broadcast of T and ONLY those <=2 rows are aggregated —
    driver-side data is two numbers.  Median of an even count is the
    midpoint of the two middle values (DuckDB's median() contract),
    computed in exact DECIMAL before the final 6dp round; the event_id
    tie-break makes rank assignment total, and equal middle VALUES make
    the midpoint independent of which equal row got which rank."""
    from mapreduceimplementation_spark.operators.mrcore import distributed_rank

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = distributed_rank(
        ev, [F.col("value").asc(), F.col("event_id").asc()]
    )
    total = ranked.agg(F.count(F.lit(1)).alias("_t"))
    mids = (
        ranked.join(F.broadcast(total))
        .where(
            (F.col("rank") == (F.col("_t") + 1) / 2)  # odd T: exact middle
            | (F.col("rank") == F.expr("(_t div 2)"))  # even T: lower middle
            | (F.col("rank") == F.expr("(_t div 2) + 1"))  # upper middle
        )
        .where(
            # for odd T the div-based ranks ((T div 2), (T div 2)+1) would
            # select two rows around the true middle; keep the exact set:
            # odd -> the single (T+1)/2 rank, even -> both middles
            F.when(
                F.col("_t") % 2 == 1,
                F.col("rank") * 2 == F.col("_t") + 1,
            ).otherwise(F.lit(True))
        )
    )
    return mids.agg(
        # coalesce: on an EMPTY events table the ungrouped agg still emits
        # one row, and max(_t) over zero mid rows is NULL where the
        # oracle's count(*) is 0 — pin n=0 (median stays NULL both sides)
        F.coalesce(F.max("_t"), F.lit(0).cast("long")).alias("n"),
        round6(
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("median_value"),
    )


# ---------------------------------------------------------------------------
# B49. events_median_by_type


@register(
    "events_median_by_type",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {sql_round6('median(value)')} AS median_value
    FROM events
    GROUP BY event_type
    """,
)
def events_median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median — B48 generalized to grouped order
    statistics, and the SECONDARY SORT exhibit (the canonical MapReduce
    pattern: partition by group, order by value within): one range
    exchange on (group, value) orders every group's values contiguously,
    and group boundaries become broadcast arithmetic.

    Scale shape: distributed_rank over (event_type, value, event_id)
    assigns global ranks with no single-partition stage and no per-group
    value buffering (the exact thing Spark's percentile aggregate cannot
    avoid); each group's offset and size come from ONE tiny per-type
    aggregate that rides back as a broadcast, making the in-group rank
    a row-local subtraction.  Only the <=2 middle rows per group reach
    the final aggregate — output is group-count-sized.  Even-count
    midpoints accumulate exact DECIMAL before the 6dp round; the
    event_id tie-break keeps rank assignment total (equal middle values
    make the midpoint indifferent to which equal row got which rank)."""
    from mapreduceimplementation_spark.operators.mrcore import distributed_rank

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    ranked = distributed_rank(
        ev,
        [F.col("event_type").asc(), F.col("value").asc(), F.col("event_id").asc()],
    )
    groups = ranked.groupBy("event_type").agg(
        F.min("rank").alias("_off"), F.count(F.lit(1)).alias("_n")
    )
    g = ranked.join(F.broadcast(groups), "event_type").withColumn(
        "_gr", F.col("rank") - F.col("_off") + 1
    )
    mids = g.where(
        F.when(
            F.col("_n") % 2 == 1,
            F.col("_gr") * 2 == F.col("_n") + 1,
        ).otherwise(
            (F.col("_gr") == F.expr("(_n div 2)"))
            | (F.col("_gr") == F.expr("(_n div 2) + 1"))
        )
    )
    return mids.groupBy("event_type").agg(
        F.max("_n").alias("n"),
        round6(
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("median_value"),
    )


# ---------------------------------------------------------------------------
# B58. join_skewed_salted — the hot-key mitigation, driver-certified

_SALT_BUCKETS = 8
_ANON_TYPES = ("view", "click", "error")


@register(
    "join_skewed_salted",
    oracle="""
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM (
        SELECT CASE WHEN event_type IN ('view', 'click', 'error')
                    THEN 0 ELSE user_id END AS k,
               value
        FROM events
    ) fact
    JOIN (
        SELECT c_custkey AS k,
               CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS tier
        FROM customer
    ) dim USING (k)
    GROUP BY tier
    """,
)
def join_skewed_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join under SALTING, certified result-identical to the plain
    join: anonymous traffic (view/click/error, ~60% of events) collapses
    onto the house account key 0 — the classic default-foreign-key skew
    that AQE's size-based skew split cannot always save (one key, one
    reducer).  The mitigation: fact rows get salt = hash(event_id) mod S,
    the dim side explodes into S replicas, and the join key becomes
    (k, salt) — the hot key now spreads over S reducers.

    The DuckDB oracle is the PLAIN join: a green hash is the proof the
    salted rewrite changes no row (a mitigation that changes answers is
    not an optimization).  The mechanism itself (hot key actually
    spreading over >1 partition, replica count) is pinned plan-side in
    tests/test_scale_patterns.py — locally Spark may still broadcast this
    dim-sized build side, which is fine: salting is inert under
    broadcast and takes over exactly when the dim outgrows it.  The
    salt never leaves the plan: output is the per-tier rollup, identical
    under any S."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    fact = ev.select(
        "value",
        F.when(F.col("event_type").isin(*_ANON_TYPES), F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.pmod(F.hash("event_id"), F.lit(_SALT_BUCKETS)).alias("salt"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("k"),
            F.floor(F.col("c_acctbal") / 2000.0).alias("tier"),
        )
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])),
        )
    )
    return (
        fact.join(dim, ["k", "salt"])
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# B65. events_quantile_sketch (fixed-bin histogram quantiles vs exact)

#: FIXED declared bin grid (B36's discipline: at 100 TB the edges cannot
#: depend on a min/max pre-pass, and fixed edges make the cells mergeable
#: across days/partitions by summing).  Unit-width bins over [0, 1024);
#: the last bin absorbs overflow, flagged per row.
_QS_BINS = 1024
_QS_PCTS = (50, 90, 99)


#: Shared oracle text for B65 and its streaming twin D14 — the stream's
#: per-day cells merged across days are count-identical to this batch
#: hist, so ONE oracle certifies both (the C51/D13 shared-fragment rule).
_QS_ORACLE = f"""
    WITH hist AS (
        SELECT event_type,
               CAST(LEAST(GREATEST(FLOOR(value), 0), {_QS_BINS - 1}) AS BIGINT)
                   AS bin,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, bin, cnt,
               CAST(sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM hist
    ), targets AS (
        SELECT event_type, n_total, q_pct,
               (q_pct * n_total + 99) // 100 AS k
        FROM (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_total FROM hist
              GROUP BY 1),
             (SELECT unnest([{", ".join(str(p) for p in _QS_PCTS)}]) AS q_pct)
    ), located AS (
        SELECT t.event_type, t.q_pct, t.n_total, t.k, c.bin,
               CAST(c.bin AS DOUBLE)
                   + CAST(t.k - (c.cum - c.cnt) AS DOUBLE)
                     / CAST(c.cnt AS DOUBLE) AS est_v
        FROM targets t JOIN cum c
          ON t.event_type = c.event_type
         AND c.cum >= t.k AND c.cum - c.cnt < t.k
    ), ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id) AS rn
        FROM events
    )
    SELECT l.event_type, CAST(l.q_pct AS INT) AS q_pct, l.n_total,
           CAST(floor(r.value * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS exact_micro,
           CAST(floor(l.est_v * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS est_micro,
           abs(CAST(floor(l.est_v * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
               - CAST(floor(r.value * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT))
               AS err_micro,
           l.bin = {_QS_BINS - 1} AS clamped,
           abs(l.est_v - r.value) <= CAST(1 AS DOUBLE) AS within_bw
    FROM located l JOIN ranked r
      ON l.event_type = r.event_type AND r.rn = l.k
    """


@register("events_quantile_sketch", oracle=_QS_ORACLE)
def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of event value per type from a FIXED-bin
    histogram sketch, next to the exact order statistic — the quantile
    member of the sketch-audit family (C25 frequencies, C49 cardinality,
    C48 recall), and the approximate twin that B17's exact-percentile
    docstring promises: at 100 TB you estimate quantiles from mergeable
    histogram cells (or t-digest/GK), and this audit pins the observed
    error before you trust the sketch fleet-wide.

    Sketch: unit-width bins over [0, 1024) (B36's fixed-grid discipline —
    no data-dependent edges, cells merge across days by summing; overflow
    clamps into the last bin, flagged per row).  Estimate = linear
    interpolation at rank k = ceil(q·n/100) inside the bin where the
    cumulative count crosses k.  The true rank-k value lands in that SAME
    bin by construction, so |est − exact| ≤ bin width is GUARANTEED for
    unclamped rows (within_bw, pytest-asserted).  Every arithmetic step —
    integer k, IEEE divide, interpolation — is bit-identical in the
    DuckDB oracle; outputs are micro-unit integers via floor (floor of
    identical doubles is deterministic; round() would hang the verdict
    on engine tie-breaking at half boundaries).

    Scale shape: the sketch path is ONE partial-agg exchange bounded by
    types x 1024 cells regardless of event volume, then a cumulative
    window over <= 1024 rows per type — the production path, identical
    in shape to B36 + B18.  The exact side (row_number rank probe, one
    sort exchange) is the audit harness, run on samples at full scale.
    Quantile conventions pinned to rank ceil(q·n/100) with (value,
    event_id) tie-break in BOTH engines — not percentile_cont/disc
    built-ins, whose interpolation conventions differ across engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    hist = (
        ev.select("event_type", qs_bin(F.col("value")).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return quantile_sketch_audit(hist, ev)


def qs_bin(value_col: Column) -> Column:
    """The ONE bin function behind B65 and D14 — clamp-to-grid over
    [0, {bins}) unit-width cells (a drifted copy would silently sketch
    the same feed differently between the batch and streaming paths)."""
    return (
        F.least(F.greatest(F.floor(value_col), F.lit(0)), F.lit(_QS_BINS - 1))
        .cast("long")
    )


def quantile_sketch_audit(hist: DataFrame, ev: DataFrame) -> DataFrame:
    """Finalize + audit over a (event_type, bin, cnt) cell table: B65's
    interpolation at rank k and the exact row_number probe — shared by
    the batch sketch (B65) and the streaming cells merged across days
    (D14), so the two paths cannot drift.

    The cell table is bounded (types x 1024) and feeds BOTH the
    cumulative window and the rank targets: localCheckpoint materializes
    it once (the tiny-multi-use-relation rule — without it B65 re-scans
    events per consumer, and D14's memory-sink lineage trips the
    analyzer's conflicting-reference check on the self-join)."""
    hist = hist.localCheckpoint()
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    targets = (
        hist.groupBy("event_type")
        .agg(F.sum("cnt").cast("long").alias("n_total"))
        .select(
            "event_type",
            "n_total",
            F.explode(F.array(*[F.lit(p) for p in _QS_PCTS])).alias("q_pct"),
        )
        .withColumn("k", F.expr("(q_pct * n_total + 99) div 100"))
    )
    located = (
        targets.join(cum, "event_type")
        .where((F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k")))
        .select(
            "event_type",
            "q_pct",
            "n_total",
            "k",
            "bin",
            (
                F.col("bin").cast("double")
                + (F.col("k") - (F.col("cum") - F.col("cnt"))).cast("double")
                / F.col("cnt").cast("double")
            ).alias("est_v"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    # the probe side renames its join key: `located` and `ranked` can share
    # lineage (D14 derives both from the same memory sink), and a same-name
    # equi-join over shared lineage resolves to a trivially-true predicate
    # (Spark's "join condition is trivially true" warning = a silent cross
    # product risk if the analyzer ever dedups the attributes)
    ranked = ev.withColumn("rn", F.row_number().over(wr)).select(
        F.col("event_type").alias("r_event_type"), "value", "rn"
    )
    micro = lambda c: F.floor(c * 1000000 + F.expr("CAST(0.5 AS DOUBLE)")).cast(
        "long"
    )
    return (
        located.join(
            ranked,
            (located["event_type"] == ranked["r_event_type"])
            & (ranked["rn"] == located["k"]),
        )
        .select(
            located["event_type"],
            F.col("q_pct").cast("int").alias("q_pct"),
            "n_total",
            micro(F.col("value")).alias("exact_micro"),
            micro(F.col("est_v")).alias("est_micro"),
            F.abs(micro(F.col("est_v")) - micro(F.col("value"))).alias(
                "err_micro"
            ),
            (F.col("bin") == _QS_BINS - 1).alias("clamped"),
            (F.abs(F.col("est_v") - F.col("value")) <= F.expr("CAST(1 AS DOUBLE)")).alias(
                "within_bw"
            ),
        )
    )


# ---------------------------------------------------------------------------
# B66. events_incident_join (interval-overlap join without a range join)


@register(
    "events_incident_join",
    oracle="""
    WITH em AS (
        SELECT DISTINCT date_trunc('minute', ts) AS minute
        FROM events WHERE event_type = 'error'
    ), grp AS (
        SELECT minute,
               CAST(epoch(minute) AS BIGINT) // 60
                   - row_number() OVER (ORDER BY minute) AS g
        FROM em
    ), inc AS (
        SELECT min(minute) AS start_minute, max(minute) AS end_minute,
               count(*) AS n_minutes
        FROM grp GROUP BY g
    ), inc_id AS (
        SELECT CAST(row_number() OVER (ORDER BY start_minute) AS BIGINT)
                   AS incident_id,
               start_minute, end_minute, n_minutes
        FROM inc
    )
    SELECT i.incident_id, i.start_minute, i.end_minute, i.n_minutes,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM inc_id i JOIN events e
      ON e.ts >= i.start_minute
     AND e.ts < i.end_minute + INTERVAL 1 MINUTE
    GROUP BY 1, 2, 3, 4
    """,
)
def events_incident_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident impact report: merge error-bearing minutes into maximal
    contiguous incident intervals (gaps-and-islands), then join EVERY
    event that falls inside an incident and roll up per-incident volume,
    distinct users, and error counts — the interval-overlap join pattern
    (maintenance windows, outage blast-radius, promo attribution).

    THE SCALE POINT: Spark has no optimized range join — the literal
    `ts BETWEEN start AND end` theta-join (which the DuckDB oracle
    states, via its IEJoin) would plan as BroadcastNestedLoop/cartesian
    over the full event volume.  Because incidents are minute-aligned by
    construction, overlap is EXACTLY equality on the minute bucket: the
    interval side explodes into its member minutes (bounded by calendar
    minutes, not events) and the fact side joins on its own
    date_trunc'd minute — a broadcast EQUI-join, zero cartesian
    (plan-asserted).  The green full-value hash against the literal
    range-join oracle certifies the rewrite.  Non-aligned intervals
    bucket the same way at a coarser grain plus one residual boundary
    filter — same shape.

    Scale shape: incident derivation runs over DISTINCT error minutes —
    bounded by calendar span (43k/month) regardless of event volume, so
    its single-partition islands window is control-plane-sized (same
    adjudication as B15's commit scan); the fact side is one scan + one
    broadcast-hash join + one partial-agg exchange on incident_id.  The
    distinct-user count expands per (incident, user) — bounded by true
    audience, and C49's registers are the swap at extreme scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id"
    )
    em = (
        ev.where(F.col("event_type") == "error")
        .select(F.date_trunc("minute", "ts").alias("minute"))
        .distinct()
    )
    grp = em.select(
        "minute",
        F.expr(
            "unix_timestamp(minute) div 60"
            " - row_number() OVER (ORDER BY minute)"
        ).alias("g"),
    )
    inc = grp.groupBy("g").agg(
        F.min("minute").alias("start_minute"),
        F.max("minute").alias("end_minute"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    inc_id = inc.select(
        F.expr("row_number() OVER (ORDER BY start_minute)")
        .cast("long")
        .alias("incident_id"),
        "start_minute",
        "end_minute",
        "n_minutes",
    )
    member_minutes = inc_id.select(
        "incident_id",
        F.explode(
            F.sequence(
                F.lit(0), (F.col("n_minutes") - 1).cast("int")
            )
        ).alias("i"),
        "start_minute",
    ).select(
        "incident_id",
        (F.col("start_minute") + F.make_interval(mins=F.col("i"))).alias(
            "minute"
        ),
    )
    hits = ev.select(
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
        "user_id",
    ).join(F.broadcast(member_minutes), "minute")
    per_inc = hits.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    return per_inc.join(F.broadcast(inc_id), "incident_id").select(
        "incident_id",
        "start_minute",
        "end_minute",
        "n_minutes",
        "n_events",
        "n_users",
        "n_errors",
    )


# ---------------------------------------------------------------------------
# B69. events_scd2_dimension — type-2 slowly-changing-dimension build


@register(
    "events_scd2_dimension",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_type IS DISTINCT FROM
                         lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS changed
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *, SUM(changed) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS version
        FROM ordered
    ),
    dim AS (
        SELECT user_id,
               CAST(version AS BIGINT) AS version,
               min(event_type) AS state,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, version
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               IS NULL AS is_current,
           n_events
    FROM dim
    """,
)
def events_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from a change log — the
    nightly warehouse job every star schema runs: treat each user's event
    stream as state transitions, collapse consecutive repeats into runs
    (gaps-and-islands), and emit versioned validity intervals
    [valid_from, valid_to) with an is_current flag and a per-version
    change count.  Downstream fact joins become as-of range lookups
    against these intervals (the batch dual of B13/D16's as-of joins).

    Determinism: the change order is pinned by (ts, event_id) — the same
    total order every other events operator uses — so run boundaries,
    version numbers and interval edges are identical under any
    partitioning and on both engines; within a run the state is constant
    by construction (min() is exact, not a tie-break).

    Scale shape: ONE scan, ONE exchange on user_id — the change flag,
    run numbering (running SUM), per-run collapse, and the LEAD closing
    each interval all share the same user_id partitioning (Spark reuses
    the exchange across the window chain and the partial-aggregated
    groupBy).  At 100 TB this is the canonical 'shuffle once, window
    many' plan; the dimension output is run-count-sized, much smaller
    than the log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "*",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        )
        .otherwise(0)
        .alias("changed"),
    )
    runs = ordered.select(
        "*", F.sum("changed").over(w).alias("version")
    )
    dim = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return dim.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# B73. events_audience_overlap — trailing-week audience-overlap matrix

#: overlap horizon in days: pair fanout per (user, day) is bounded by
#: this constant, not by the calendar span — the scale contract.
_OVL_LAG_DAYS = 7


@register(
    "events_audience_overlap",
    oracle=f"""
    WITH daily AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    totals AS (
        SELECT day, count(*) AS n FROM daily GROUP BY day
    ),
    pairs AS (
        SELECT a.day AS day_a, b.day AS day_b, count(*) AS n_overlap
        FROM daily a
        JOIN daily b
          ON a.user_id = b.user_id
         AND b.day > a.day
         AND b.day <= a.day + INTERVAL {_OVL_LAG_DAYS} DAYS
        GROUP BY a.day, b.day
    )
    SELECT p.day_a, p.day_b,
           ta.n AS n_a, tb.n AS n_b, p.n_overlap,
           (p.n_overlap * 1000000)
               // (ta.n + tb.n - p.n_overlap) AS jaccard_ppm
    FROM pairs p
    JOIN totals ta ON ta.day = p.day_a
    JOIN totals tb ON tb.day = p.day_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of days at most
    {_OVL_LAG_DAYS} apart, how many distinct users were active on BOTH,
    with per-day actives and the Jaccard similarity in integer ppm —
    the retention/cannibalization read every growth team pulls (B24's
    cohort retention fixes day_a = a cohort's first day; this is the
    full day×day band).

    Scale shape: the oracle states the self-join literally; the Spark
    side never joins the fact table to itself.  ONE scan and ONE
    exchange on user_id build each user's day set (collect_set dedups
    same-day activity in the same aggregate); the set — bounded by the
    calendar, tiny vs event volume — expands ROW-LOCALLY into in-horizon
    pairs INCLUDING the self-pair, fanout ≤ {_OVL_LAG_DAYS}+1 per
    user-day, a constant.  One more exchange aggregates onto the
    calendar×horizon-bounded (day_a, day_b) matrix, where the diagonal
    (d, d) IS day d's active count — so per-day totals need no second
    pass over the data; that tiny matrix is localCheckpoint'ed (the
    multi-use-relation discipline) and its diagonal broadcasts back onto
    the off-diagonal rows.  Integer ppm avoids float division entirely
    (BIGINT `div` is identical in both engines on non-negative
    operands)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    # ONE exchange on user_id: collect_set dedups (user, day) AND builds
    # the per-user day array in the same aggregate; totals and pairs both
    # hang off this relation, so the scan+shuffle prefix is shared
    # (ReusedExchange) instead of re-derived per consumer.
    days = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("day")).alias("days")
    )
    # SELF-pairs (b >= a) ride along so per-day totals fall out of the
    # SAME aggregated matrix as the overlaps: (d, d)'s count IS day d's
    # active count — one scan, and no second pass over `days`.
    pairs = days.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("days"),
                    lambda a: F.transform(
                        F.filter(
                            F.col("days"),
                            lambda b: (b >= a)
                            & (
                                b
                                <= a
                                + F.expr(
                                    f"INTERVAL {_OVL_LAG_DAYS} DAYS"
                                )
                            ),
                        ),
                        lambda b: F.struct(
                            a.alias("day_a"), b.alias("day_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.day_a", "p.day_b")
    # calendar × horizon rows — the tiny multi-use relation the house
    # checkpoints so its three consumers don't re-derive the lineage
    counts = (
        pairs.groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .localCheckpoint(eager=False)
    )
    diag = counts.where(F.col("day_a") == F.col("day_b"))
    ta = diag.select(F.col("day_a"), F.col("n_overlap").alias("n_a"))
    tb = diag.select(
        F.col("day_b"), F.col("n_overlap").alias("n_b")
    )
    out = (
        counts.where(F.col("day_a") != F.col("day_b"))
        .join(F.broadcast(ta), "day_a")
        .join(F.broadcast(tb), "day_b")
        .select(
            "day_a",
            "day_b",
            "n_a",
            "n_b",
            "n_overlap",
            F.expr(
                "(n_overlap * 1000000L) div (n_a + n_b - n_overlap)"
            ).alias("jaccard_ppm"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# B74. events_transition_matrix — first-order Markov transition estimate


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type)
                AS BIGINT) AS prob_ppm
    FROM trans
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | previous event type), estimated from every
    adjacent pair in (ts, event_id) order — the product-analytics model
    behind next-action prediction and funnel anomaly detection (B23's
    funnel fixes one path; this estimates all of them).

    Scale shape: one exchange on user_id for the lag(), then a partial
    aggregation onto the (prev, next) key space — bounded by
    #event_types², a few dozen rows, so the map-side combine collapses
    100 TB of pairs to per-partition cards.  The row-probability is
    integer ppm via BIGINT floor division over the per-prev window on
    the TINY aggregated matrix (identical semantics both engines; no
    float division in the plan)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return trans.selectExpr(
        "prev_type",
        "next_type",
        "n",
        "(n * 1000000L) div sum(n) over (partition by prev_type)"
        " as prob_ppm",
    )


# ---------------------------------------------------------------------------
# B75. events_funnel_attribution — U-shaped multi-touch attribution

#: attribution lookback: touches older than this before the purchase get
#: no credit
_ATTR_DAYS = 7
#: U-shaped (position-based) weights in ppm: first 40%, last 40%, the
#: middle 20% split evenly (integer div; the sub-ppm remainder stays
#: unassigned, so per-purchase credit sums to <= 1e6 deterministically)
_ATTR_EDGE_PPM = 400_000
_ATTR_MID_PPM = 200_000


@register(
    "events_funnel_attribution",
    tags=(DENSITY_QUADRATIC,),
    oracle=f"""
    WITH p AS (
        SELECT user_id, ts AS p_ts, event_id AS p_id,
               CAST(CASE WHEN value * 1000000.0 < 0
                    THEN -floor(-(value * 1000000.0) + 0.5)
                    ELSE floor(value * 1000000.0 + 0.5) END AS BIGINT)
                   AS value_micro
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id, ts AS t_ts, event_id AS t_id,
               event_type AS t_type
        FROM events WHERE event_type <> 'purchase'
    ),
    pairs AS (
        SELECT t.t_type, t.t_ts, t.t_id, p.p_id, p.value_micro
        FROM t JOIN p ON t.user_id = p.user_id
         AND t.t_ts < p.p_ts
         AND t.t_ts >= p.p_ts - INTERVAL {_ATTR_DAYS} DAY
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS k
        FROM pairs
        WINDOW w AS (PARTITION BY p_id ORDER BY t_ts, t_id)
    ),
    credited AS (
        SELECT t_type, p_id, rn, k,
               CASE WHEN k = 1 THEN 1000000
                    WHEN k = 2 THEN 500000
                    WHEN rn = 1 OR rn = k THEN {_ATTR_EDGE_PPM}
                    ELSE {_ATTR_MID_PPM} // (k - 2) END AS weight_ppm,
               value_micro
        FROM ranked
    )
    SELECT t_type AS event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
           CAST(sum(CASE WHEN rn = k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_last,
           CAST(sum((value_micro * weight_ppm) // 1000000) AS BIGINT)
               AS credit_micro
    FROM credited
    GROUP BY t_type
    """,
)
def events_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the standard
    marketing-analytics credit model (40% to the first touch, 40% to the
    last, 20% split across the middle; single touch takes all, two
    touches split evenly): every purchase distributes its value across
    the user's touches (non-purchase events) in the {_ATTR_DAYS}-day
    lookback, and credit rolls up per touch type.  B23 asks "did the
    fixed path complete"; this prices EVERY path — the pair give the
    funnel's conversion view and its revenue view.

    Determinism discipline: purchase value snaps to micro-unit BIGINT
    (half-away floor) BEFORE weighting, weights are exact ppm integers
    (the middle split's sub-ppm remainder stays unassigned, so per-
    purchase credit ≤ 1e6 ppm deterministically — no float fractions to
    re-normalize), and credit is an exact BIGINT product-then-div.
    Touch order is the total (ts, event_id) order.

    Scale shape: ONE equi-join shuffle on user_id (both sides of the
    self-join repartition once; the {_ATTR_DAYS}-day window is a
    row-local filter on the joined pair, never a range-join plan); then
    one window exchange on p_id and a types-bounded rollup.  No
    broadcast of event-volume data, no cartesian (plan-gated).

    Cost law (DENSITY_QUADRATIC, VERDICT r9 item 4): pair volume is
    ∝ per-user (touches in lookback) × (purchases) — quadratic in
    per-user in-horizon activity.  Real growth adds USERS (linear:
    the user_id shuffle scales out and per-user pair counts are flat);
    replica/density inflation multiplies both factors (SCALE_r09
    measured 5.04x at 10x replica stress — the law, not a regression).
    Routing rule for high-density data (hot users with thousands of
    in-lookback touches): bound the credited touch set per purchase —
    rank touches DESC by (t_ts, t_id) within p_id and keep the first
    N before crediting (semantics become "N-touch U-shaped
    attribution", the standard production mitigation; pair volume then
    ∝ purchases × N, linear in activity), or fall back to first/last-
    touch-only attribution, which needs one min/max window instead of
    the pair expansion."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        (half_away(F.col("value") * 1000000.0, 0))
        .cast("long")
        .alias("value_micro"),
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
    )
    pairs = t.join(p, "user_id").where(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_DAYS} DAYS")
        )
    )
    wr = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    wk = Window.partitionBy("p_id")
    ranked = pairs.select(
        "t_type",
        "p_id",
        "value_micro",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wk).cast("long").alias("k"),
    )
    weight = (
        F.when(F.col("k") == 1, F.lit(1000000).cast("long"))
        .when(F.col("k") == 2, F.lit(500000).cast("long"))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.lit(_ATTR_EDGE_PPM).cast("long"),
        )
        .otherwise(F.expr(f"{_ATTR_MID_PPM}L div (k - 2)"))
    )
    credited = ranked.select(
        "t_type",
        "p_id",
        "rn",
        "k",
        weight.alias("weight_ppm"),
        "value_micro",
    )
    return credited.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("p_id").alias("n_conversions"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_first"),
        F.sum(F.when(F.col("rn") == F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_last"),
        F.sum(F.expr("(value_micro * weight_ppm) div 1000000"))
        .cast("long")
        .alias("credit_micro"),
    )


# ---------------------------------------------------------------------------
# B76. events_ab_test_metrics — hash-bucketed experiment readout

#: experiment salt: changing it re-randomizes every assignment (the knob
#: a real experimentation platform turns per experiment)
_AB_SALT = "ab-exp1-"


def ab_per_user_facts(ev: DataFrame) -> DataFrame:
    """(variant, user_id) -> (converted, value_micro) facts — the SHARED
    B76/D17 definition (assignment hash, purchase flag, signed half-away
    micro snap, per-user agg): the batch readout and its streaming twin
    compute the experiment state through one code path.  ``ev`` may be a
    batch OR a streaming DataFrame (aggregate only, no windows)."""
    variant = F.when(
        hash64(F.col("user_id").cast("string"), _AB_SALT) % 2 == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    vm = F.col("value") * 1000000.0
    value_micro = (
        F.when(vm < 0, -F.floor(-vm + F.lit(0.5)))
        .otherwise(F.floor(vm + F.lit(0.5)))
        .cast("long")
    )
    return (
        ev.select(
            variant.alias("variant"),
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_p"),
            F.when(F.col("event_type") == "purchase", value_micro)
            .otherwise(F.lit(0).cast("long"))
            .alias("vm"),
        )
        .groupBy("variant", "user_id")
        .agg(
            F.max("is_p").alias("converted"),
            F.sum("vm").cast("long").alias("value_micro"),
        )
    )


def ab_arm_readout(per_user: DataFrame) -> DataFrame:
    """Per-arm rollup + antisymmetric delta over the per-user fact table
    (shared by B76 and D17 — the serving query is identical whether the
    facts came from one batch pass or a microbatch-upserted stream)."""
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.sum("value_micro").cast("long").alias("revenue_micro"),
    )
    return per_variant.select(
        "variant",
        "n_users",
        "n_converted",
        F.expr("(n_converted * 1000000L) div n_users").alias("conv_ppm"),
        "revenue_micro",
        F.expr("revenue_micro div n_users").alias("revenue_per_user_micro"),
        F.expr(
            "(n_converted * 1000000L) div n_users"
            " - (sum((n_converted * 1000000L) div n_users) OVER ()"
            "    - (n_converted * 1000000L) div n_users)"
        ).alias("delta_conv_ppm"),
    )


#: the ONE batch-semantics oracle for the experiment readout — B76 and
#: its streaming twin D17 register this identical string (the stream
#: must end exactly equal to the batch answer)
_AB_ORACLE = f"""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN {sql_hash64(f"'{_AB_SALT}' || CAST(user_id AS VARCHAR)")} % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant,
               event_type, value
        FROM events
    ),
    per_user AS (
        SELECT variant, user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN
                   CAST(CASE WHEN value * 1000000.0 < 0
                        THEN -floor(-(value * 1000000.0) + 0.5)
                        ELSE floor(value * 1000000.0 + 0.5) END AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS value_micro
        FROM assigned GROUP BY variant, user_id
    ),
    per_variant AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted,
               (CAST(sum(converted) AS BIGINT) * 1000000) // count(*)
                   AS conv_ppm,
               CAST(sum(value_micro) AS BIGINT) AS revenue_micro,
               CAST(sum(value_micro) AS BIGINT) // count(*)
                   AS revenue_per_user_micro
        FROM per_user GROUP BY variant
    )
    SELECT variant, n_users, n_converted, conv_ppm, revenue_micro,
           revenue_per_user_micro,
           CAST(conv_ppm - (sum(conv_ppm) OVER () - conv_ppm) AS BIGINT)
               AS delta_conv_ppm
    FROM per_variant
    """


@register("events_ab_test_metrics", oracle=_AB_ORACLE)
def events_ab_test_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over deterministic hash bucketing — the
    experimentation-platform staple: every user is assigned
    control/treatment by a salted portable hash (same user → same arm on
    every engine, every rerun, every backfill — the property that makes
    the readout auditable), then per-arm exposure, conversion (any
    purchase), conversion rate in exact ppm, revenue, and revenue per
    exposed user, plus each arm's conversion delta against the other.
    Changing {_AB_SALT!r} re-randomizes the split (per-experiment salt).

    Determinism discipline: assignment is hash64(salt‖user_id) % 2 — the
    same md5-derived hash the LSH/split family certifies cross-engine;
    purchase value snaps to micro BIGINT (half-away floor) BEFORE any
    sum; rates and per-user revenue are exact BIGINT division; the delta
    is integer arithmetic over the 2-row arm relation (a window, no
    self-join).

    Scale shape: assignment is row-local at scan speed; ONE exchange on
    (variant, user_id) builds per-user facts with map-side partials;
    the arm rollup aggregates an already-aggregated relation into 2
    rows; the delta window runs on those 2 rows.  No broadcast of
    event-volume data, no join anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    return ab_arm_readout(ab_per_user_facts(ev))


# ---------------------------------------------------------------------------
# B77. events_session_paths — top session paths (sequence mining)

#: path truncation: only the first N steps identify a path (the cap that
#: keeps path cardinality bounded — every path-analysis tool truncates)
_PATH_STEPS = 8
#: paths reported
_PATH_TOPK = 20


@register(
    "events_session_paths",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    ), per_session AS (
        SELECT user_id, session_id,
               array_to_string(list_slice(
                   list(event_type ORDER BY ts, event_id),
                   1, {_PATH_STEPS}), '>') AS path
        FROM sessions GROUP BY user_id, session_id
    ), path_counts AS (
        SELECT path,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM per_session GROUP BY path
    ), total AS (
        SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM path_counts
    )
    SELECT path, n_sessions, n_users,
           (n_sessions * 1000000) // n_total AS share_ppm
    FROM path_counts CROSS JOIN total
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOPK}
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths (the product-analytics path/flow report): the
    B8 sessionization (30-min gap, SAME lag+running-sum definition so
    the two session views cannot drift), each session reduced to its
    ordered event-type sequence truncated to the first {_PATH_STEPS}
    steps (the cap every path tool applies — untruncated path
    cardinality is unbounded), then the {_PATH_TOPK} most common paths
    with session counts, distinct users, and exact-ppm share of ALL
    sessions.  B23 checks ONE fixed funnel; this reports which funnels
    actually happen.

    Determinism: step order is the (ts, event_id) total order on both
    engines (sort_array of (ts, event_id, type) structs vs list(...
    ORDER BY ts, event_id)); the frontier is (n_sessions DESC, path) —
    a total order; share is exact BIGINT div.

    Scale shape: ONE exchange on user_id drives both session windows
    AND the per-session path rollup (grouping keys superset of the
    partition key); path counting is a partial-agg exchange on the
    truncation-bounded path key; the top-{_PATH_TOPK} compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort) and the
    1-row total broadcasts; path_counts localCheckpoints (consumed by
    rows AND the total)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                _PATH_STEPS,
            ),
            ">",
        ).alias("path")
    )
    path_counts = (
        per_session.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .localCheckpoint(eager=False)
    )
    total = path_counts.agg(
        F.sum("n_sessions").cast("long").alias("n_total")
    )
    return (
        path_counts.crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_sessions",
            "n_users",
            F.expr("(n_sessions * 1000000L) div n_total").alias("share_ppm"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# B83. events_ewma_daily — exponentially-weighted daily volume smoothing
# (the ops forecast/spike baseline), exact by integer dyadic arithmetic

#: EWMA taps: alpha = 1/2, K-tap FIR.  For horizons <= K this IS the
#: zero-init recurrence ewma_t = (c_t + ewma_(t-1))/2 exactly; beyond K
#: the tail weight (< 2^-K of any count) is truncated — that truncation
#: is the DEFINITION here, which is what bounds both the window frame
#: and the integer width at any calendar horizon.
_EWMA_K = 32


def _ewma_fir_spark(c: str, w) -> "Column":
    """S = sum_j lag(c, j) << (K-1-j): the K-tap dyadic FIR as ONE
    integer expression over a shared window frame — exact (S < 2^53 for
    daily counts < 2^21), order-free, engine-identical."""
    return sum(
        F.shiftleft(F.coalesce(F.lag(c, j).over(w), F.lit(0)), _EWMA_K - 1 - j)
        for j in range(_EWMA_K)
    )


def _ewma_fir_sql(c: str) -> str:
    terms = " + ".join(
        f"(coalesce(lag({c}, {j}) OVER w, 0) << {_EWMA_K - 1 - j})"
        for j in range(_EWMA_K)
    )
    return f"({terms})"


@register(
    "events_ewma_daily",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), fir AS (
        SELECT day, event_type, c,
               {_ewma_fir_sql('c')} AS s
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT day, event_type, c,
           CAST(s AS DOUBLE) / {float(1 << _EWMA_K)} AS ewma,
           CASE WHEN lag(s) OVER v IS NULL THEN false
                ELSE (c << {_EWMA_K - 1}) > lag(s) OVER v END AS spike
    FROM fir
    WINDOW v AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily volume per event type (α = 1/2) with
    a spike flag — the ops smoothing/one-step-forecast baseline B26's
    retrospective z-score complements: ewma_t is also the forecast for
    day t+1, and spike marks days whose count exceeds 2× the forecast.

    Exactness is the design: with α = 1/2 every tap weight is dyadic, so
    the whole FIR is ONE integer sum S = Σ lag(c, j)·2^(K-1-j) (exact,
    order-free, no float fold across the window) and ewma = S / 2^K is
    a single exact power-of-two scaling — bit-identical on any engine or
    partitioning with no quantization step at all.  The spike test is a
    pure integer comparison (c·2^(K-1) > S_(t-1)) — no float boundary.

    Scale shape: ONE scan + one partial-agg exchange build the daily
    cells; the FIR and the spike lag share one event_type partitioning
    (Spark plans a single window stage over the calendar-bounded cell
    table).  The {_EWMA_K}-tap truncation is what keeps the frame and
    the integer width bounded at ANY horizon — the same reason a
    production EWMA job is windowed (see module constant)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    fir = daily.select(
        "day", "event_type", "c", _ewma_fir_spark("c", w).alias("s")
    )
    prev_s = F.lag("s").over(w)
    return fir.select(
        "day",
        "event_type",
        "c",
        (F.col("s").cast("double") / F.lit(float(1 << _EWMA_K))).alias("ewma"),
        F.when(prev_s.isNull(), F.lit(False))
        .otherwise(F.shiftleft(F.col("c"), _EWMA_K - 1) > prev_s)
        .alias("spike"),
    )


# ---------------------------------------------------------------------------
# B84. events_forecast_backtest — rolling-origin evaluation of the B83
# forecaster (every model in this repo ships with its eval: C71→C75,
# C11b→C53, C7→C48 — this is B83's)


@register(
    "events_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), fir AS (
        SELECT day, event_type, c,
               {_ewma_fir_sql('c')} AS s,
               lag(c) OVER w AS prev_c
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), scored AS (
        SELECT event_type, c, prev_c,
               lag(s) OVER v AS prev_s
        FROM fir
        WINDOW v AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           {sql_round6(
               "CAST(sum(abs((c << " + str(_EWMA_K) + ") - prev_s)) AS DOUBLE)"
               " / (CAST(count(*) AS DOUBLE) * " + str(float(1 << _EWMA_K)) + ")"
           )} AS mae_ewma,
           {sql_round6(
               "CAST(sum(abs(c - prev_c)) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
           )} AS mae_naive,
           {sql_round6(
               "CAST(sum((c << " + str(_EWMA_K) + ") - prev_s) AS DOUBLE)"
               " / (CAST(count(*) AS DOUBLE) * " + str(float(1 << _EWMA_K)) + ")"
           )} AS bias_ewma,
           sum(abs((c << {_EWMA_K}) - prev_s))
               < sum(abs(c - prev_c)) * {1 << _EWMA_K} AS ewma_wins
    FROM scored WHERE prev_s IS NOT NULL
    GROUP BY 1
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the B83 EWMA forecaster (B84): for each
    day t ≥ 2 the one-step forecast is ewma_(t-1); report per type the
    mean absolute error, the MAE of the naive persistence forecast
    (yesterday's count — THE baseline any forecaster must beat), the
    signed bias, and the verdict ewma_wins.  This is the evaluation
    table that justifies (or vetoes) alerting on B83's spike flag.

    Determinism: every error term is the INTEGER numerator
    |c·2^K − lag(S)| (the forecast is lag(S)/2^K, so c − forecast =
    (c·2^K − lag(S))/2^K exactly), summed as exact DECIMAL(38,0) —
    order-free at any horizon, unlike a raw-double Σ|err| whose 32
    fractional bits start truncating once a type's error total crosses
    2^21 (ADVICE r7; the repo's quantize-or-integerize-before-
    shuffle-sum rule, cf. C79).  Only the final mean/bias quotients
    are rounded (round6, the shared half-away grain); ewma_wins
    compares the two integer sums on one 2^K-scaled grain —
    exact-vs-exact, no float boundary.

    Scale shape: identical to B83 — one scan, one partial-agg exchange,
    one event_type window partitioning shared by the FIR, both lags and
    the final per-type rollup; the backtest relation is calendar-bounded
    (days × types), never event-volume-sized."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    fir = daily.select(
        "day",
        "event_type",
        "c",
        _ewma_fir_spark("c", w).alias("s"),
        F.lag("c").over(w).alias("prev_c"),
    )
    scored = fir.select(
        "event_type",
        "c",
        "prev_c",
        F.lag("s").over(w).alias("prev_s"),
    ).where(F.col("prev_s").isNotNull())
    # integer error numerators on the 2^K grain: |err|·2^K and the
    # signed bias numerator (both < 2^53 per B83's width bound), summed
    # as exact DECIMAL(38,0) so no horizon can overflow or truncate
    _dec = "decimal(38,0)"
    inum = F.abs(
        F.shiftleft(F.col("c"), _EWMA_K) - F.col("prev_s")
    ).cast(_dec)
    bnum = (F.shiftleft(F.col("c"), _EWMA_K) - F.col("prev_s")).cast(_dec)
    nnum = F.abs(F.col("c") - F.col("prev_c")).cast(_dec)
    denom_k = F.count(F.lit(1)).cast("double") * F.lit(float(1 << _EWMA_K))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        round6(F.sum(inum).cast("double") / denom_k).alias("mae_ewma"),
        round6(
            F.sum(nnum).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mae_naive"),
        round6(F.sum(bnum).cast("double") / denom_k).alias("bias_ewma"),
        (F.sum(inum) < F.sum(nnum) * F.lit(1 << _EWMA_K)).alias("ewma_wins"),
    )
