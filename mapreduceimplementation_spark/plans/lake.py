"""Lake-maintenance plans (SURVEY.md §2 B71–B72): MERGE-style upsert and
snapshot reconciliation — the two table-maintenance jobs every parquet
lake runs nightly.  Neither needs a transaction log: both are pure
queries over the raw event log, so they double as the batch twins of
what Delta/Iceberg MERGE INTO and table-diff tools compute.

House pattern: the Spark side runs the OPTIMAL plan (one scan, one
exchange, conditional aggregation); the oracle states the naive
semantics literally (two snapshot CTEs + a full outer join), so the
green hash certifies the rewrite — the same discipline as q21's EXISTS
decorrelation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table

#: MERGE cutoff: events before the cut are the base table, events at or
#: after it are the change feed (half-open, the ADVICE-established
#: convention).
_MERGE_CUT = "2024-01-16"

#: Snapshot windows for the diff: overlapping 20-day rolling windows, so
#: all four verdicts (added / removed / changed / unchanged) occur.
_OLD_LO, _OLD_HI = "2024-01-01", "2024-01-21"
_NEW_LO, _NEW_HI = "2024-01-11", "2024-01-31"


def _half_agg(lo: str | None, hi: str | None, prefix: str) -> list:
    """Conditional per-user aggregate over one time slice: row count,
    cent-total, and the LAST event's type in (ts, event_id) order —
    max(struct) over the unique (ts, event_id) key is deterministic."""
    if lo is None:
        cond = F.col("ts") < F.lit(hi).cast("timestamp")
    elif hi is None:
        cond = F.col("ts") >= F.lit(lo).cast("timestamp")
    else:
        cond = (F.col("ts") >= F.lit(lo).cast("timestamp")) & (
            F.col("ts") < F.lit(hi).cast("timestamp")
        )
    when = lambda c: F.when(cond, c)  # noqa: E731
    return [
        F.count(when(F.lit(1))).cast("long").alias(f"{prefix}_n"),
        F.sum(when(F.round(F.col("value") * 100, 0).cast("long"))).alias(
            f"{prefix}_cents"
        ),
        F.max(when(F.struct("ts", "event_id", "event_type")))[
            "event_type"
        ].alias(f"{prefix}_status"),
        F.max(when(F.col("ts"))).alias(f"{prefix}_last_ts"),
    ]


# ---------------------------------------------------------------------------
# B71. table_merge_upsert — MERGE INTO (SCD1 upsert + delete) semantics


@register(
    "table_merge_upsert",
    oracle=f"""
    WITH base_rows AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_MERGE_CUT}'
    ),
    base AS (
        SELECT user_id,
               max(CASE WHEN rn = 1 THEN event_type END) AS status,
               sum(cents) AS total_cents,
               count(*) AS n_events,
               max(ts) AS last_ts
        FROM base_rows GROUP BY user_id
    ),
    chg_rows AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUT}'
    ),
    changes AS (
        SELECT user_id,
               max(CASE WHEN rn = 1 THEN event_type END) AS status,
               sum(cents) AS total_cents,
               count(*) AS n_events,
               max(ts) AS last_ts,
               max(CASE WHEN rn = 1 THEN event_type END) = 'error' AS del
        FROM chg_rows GROUP BY user_id
    )
    SELECT coalesce(b.user_id, c.user_id) AS user_id,
           CASE WHEN c.user_id IS NULL THEN b.status ELSE c.status END
               AS status,
           CAST(coalesce(b.total_cents, 0) + coalesce(c.total_cents, 0)
                AS BIGINT) AS total_cents,
           coalesce(b.n_events, 0) + coalesce(c.n_events, 0) AS n_events,
           CASE WHEN c.user_id IS NULL THEN b.last_ts ELSE c.last_ts END
               AS last_ts,
           CASE WHEN b.user_id IS NULL THEN 'inserted'
                WHEN c.user_id IS NULL THEN 'carried'
                ELSE 'updated' END AS row_status
    FROM base b FULL OUTER JOIN changes c ON b.user_id = c.user_id
    WHERE c.user_id IS NULL OR NOT c.del
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over a parquet lake — the nightly SCD1 job:
    a base profile table (events before {_MERGE_CUT}) merged with a
    change feed (events at/after it).  Matched rows update (change wins
    the status, totals add), unmatched change rows insert, base-only
    rows carry over, and a change feed whose LAST action is 'error' is a
    delete marker — the row leaves the table (WHEN MATCHED AND del THEN
    DELETE).  This is exactly what Delta/Iceberg MERGE INTO computes;
    here it is a pure query, so the oracle can state it as a full outer
    join.

    Scale shape: the oracle's two-snapshot full-outer-join is the naive
    plan (two scans + two shuffles + a join); the Spark side computes
    the identical result in ONE scan and ONE exchange — a single
    groupBy(user_id) with slice-conditional aggregates, the merge
    decision applied row-locally post-agg.  At 100 TB that halves the
    I/O and removes the join entirely; the green hash certifies the
    rewrite.  (With a true incremental feed you'd keep the join but
    partition both sides on user_id — the shape join_skewed_salted and
    write_bucketed exhibit.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    agg = ev.groupBy("user_id").agg(
        *_half_agg(None, _MERGE_CUT, "b"),
        *_half_agg(_MERGE_CUT, None, "c"),
    )
    has_b = F.col("b_n") > 0
    has_c = F.col("c_n") > 0
    deleted = has_c & (F.col("c_status") == "error")
    return (
        agg.where(~deleted)
        .select(
            "user_id",
            F.when(has_c, F.col("c_status"))
            .otherwise(F.col("b_status"))
            .alias("status"),
            (
                F.coalesce(F.col("b_cents"), F.lit(0))
                + F.coalesce(F.col("c_cents"), F.lit(0))
            ).alias("total_cents"),
            (F.col("b_n") + F.col("c_n")).alias("n_events"),
            F.when(has_c, F.col("c_last_ts"))
            .otherwise(F.col("b_last_ts"))
            .alias("last_ts"),
            F.when(~has_b, "inserted")
            .when(~has_c, "carried")
            .otherwise("updated")
            .alias("row_status"),
        )
    )


# ---------------------------------------------------------------------------
# B72. table_snapshot_diff — rolling-snapshot reconciliation


@register(
    "table_snapshot_diff",
    oracle=f"""
    WITH old_rows AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '{_OLD_LO}' AND ts < TIMESTAMP '{_OLD_HI}'
    ),
    old AS (
        SELECT user_id,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
               max(CASE WHEN rn = 1 THEN event_type END) AS status
        FROM old_rows GROUP BY user_id
    ),
    new_rows AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '{_NEW_LO}' AND ts < TIMESTAMP '{_NEW_HI}'
    ),
    new AS (
        SELECT user_id,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
               max(CASE WHEN rn = 1 THEN event_type END) AS status
        FROM new_rows GROUP BY user_id
    )
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           o.n AS old_n, n.n AS new_n,
           o.cents AS old_cents, n.cents AS new_cents,
           o.status AS old_status, n.status AS new_status,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.n <> n.n OR o.cents <> n.cents
                     OR o.status <> n.status THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           concat_ws(',',
               CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                         AND o.n <> n.n THEN 'n_events' END,
               CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                         AND o.cents <> n.cents THEN 'total_cents' END,
               CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                         AND o.status <> n.status THEN 'status' END)
               AS changed_cols
    FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
    """,
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — diff two rolling-window snapshots of a
    per-user profile table (days 1–20 vs days 11–30) and classify every
    key: added (new only), removed (old only), changed (any column
    differs, with a per-column change mask), unchanged.  This is the
    data-reconciliation job that validates a migration or an incremental
    pipeline against a full rebuild — and the overlapping windows make
    all four verdicts occur by construction.

    Scale shape: same rewrite as B71 — the oracle's two-snapshot full
    outer join becomes ONE scan + ONE exchange (slice-conditional
    aggregates over the union window, verdict row-local post-agg).  The
    change mask is concat_ws over per-column CASE flags, all inside
    whole-stage codegen; output is key-cardinality, far smaller than the
    log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    union_lo = min(_OLD_LO, _NEW_LO)
    union_hi = max(_OLD_HI, _NEW_HI)
    ev = ev.where(
        (F.col("ts") >= F.lit(union_lo).cast("timestamp"))
        & (F.col("ts") < F.lit(union_hi).cast("timestamp"))
    )
    agg = ev.groupBy("user_id").agg(
        *_half_agg(_OLD_LO, _OLD_HI, "o"),
        *_half_agg(_NEW_LO, _NEW_HI, "n"),
    )
    has_o = F.col("o_n") > 0
    has_n = F.col("n_n") > 0
    n_diff = F.col("o_n") != F.col("n_n")
    c_diff = F.col("o_cents") != F.col("n_cents")
    s_diff = F.col("o_status") != F.col("n_status")
    both = has_o & has_n
    return agg.where(has_o | has_n).select(
        "user_id",
        F.when(has_o, F.col("o_n")).alias("old_n"),
        F.when(has_n, F.col("n_n")).alias("new_n"),
        F.when(has_o, F.col("o_cents")).alias("old_cents"),
        F.when(has_n, F.col("n_cents")).alias("new_cents"),
        F.when(has_o, F.col("o_status")).alias("old_status"),
        F.when(has_n, F.col("n_status")).alias("new_status"),
        F.when(~has_o, "added")
        .when(~has_n, "removed")
        .when(n_diff | c_diff | s_diff, "changed")
        .otherwise("unchanged")
        .alias("diff_status"),
        F.concat_ws(
            ",",
            F.when(both & n_diff, "n_events"),
            F.when(both & c_diff, "total_cents"),
            F.when(both & s_diff, "status"),
        ).alias("changed_cols"),
    )


# ---------------------------------------------------------------------------
# B82. table_compaction_plan — small-file compaction planning (the
# OPTIMIZE / rewrite_data_files job every parquet lake schedules)

from pyspark.sql.window import Window  # noqa: E402

from mapreduceimplementation_spark.functions.hashing import (  # noqa: E402
    hash64,
    sql_hash64,
)

#: compaction target file size (bytes).  Files at or above it are left
#: alone ('keep'); smaller files are packed into output groups.
_CMP_TARGET = 16_384
#: synthetic manifest byte factor: a "file" is one (day, event_type)
#: ingestion cell — one small file per type per day is exactly what
#: per-type streaming writers produce — and its size is rows × a
#: hash-jittered row width (64..255 bytes), so the manifest has both
#: under- and over-target files at sf0.01.
_CMP_W_BASE = 64
_CMP_W_MOD = 192

_CMP_H = sql_hash64(
    "'fsz-' || strftime(day, '%Y-%m-%d') || '/' || event_type"
)


@register(
    "table_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) * ({_CMP_W_BASE} + {_CMP_H} % {_CMP_W_MOD})
                    AS BIGINT) AS file_bytes
        FROM events GROUP BY 1, 2
    ), classed AS (
        SELECT *,
               CASE WHEN file_bytes >= {_CMP_TARGET}
                    THEN 'keep' ELSE 'compact' END AS action
        FROM files
    ), packed AS (
        SELECT *,
               CASE WHEN action = 'keep' THEN -1
                    ELSE CAST(floor(
                        CAST(coalesce(sum(CASE WHEN action = 'compact'
                                              THEN file_bytes END) OVER (
                            PARTITION BY day ORDER BY event_type
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS DOUBLE)
                        / {_CMP_TARGET}) AS BIGINT) END AS out_group
        FROM classed
    )
    SELECT day, event_type, n_rows, file_bytes, action, out_group,
           CAST(count(*) OVER g AS BIGINT) AS group_files,
           CAST(sum(file_bytes) OVER g AS BIGINT) AS group_bytes
    FROM packed
    WINDOW g AS (PARTITION BY day, action, out_group)
    """,
)
def table_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (B82) — the maintenance job behind
    Delta OPTIMIZE / Iceberg rewrite_data_files: given a partitioned
    table's file manifest, leave files already at target size alone and
    bin-pack the small ones (in deterministic manifest order) into
    output groups of ~target bytes, NEVER packing across partitions.
    Packing rule: a small file joins group floor(preceding-small-bytes /
    target) — offset-bucketed first-fit, the shuffle-free approximation
    whose groups straddle target by at most one file (what the
    byte-budgeted rewrites actually do, since splitting a file defeats
    the point).

    The manifest is derived (B-family discipline): one file per (day,
    event_type) ingestion cell, bytes = rows × hash-jittered width, so
    both actions and multi-file groups occur at sf0.01 and the whole
    plan is full-value oracle-checked.

    Scale shape: the manifest build is ONE partial-agg exchange over the
    log (at a real deployment it is a metadata-table scan, corpus-free);
    packing is two window frames over the same (day) partitioning — a
    manifest is files-count-sized, millions of rows at 100 TB, trivially
    windowable; nothing about the DATA volume enters the plan."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    width = _CMP_W_BASE + hash64(
        F.concat(
            F.lit("fsz-"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"),
            F.lit("/"),
            F.col("event_type"),
        )
    ) % _CMP_W_MOD
    files = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) * F.first(width)).cast("long").alias("file_bytes"),
    )
    classed = files.select(
        "*",
        F.when(F.col("file_bytes") >= _CMP_TARGET, "keep")
        .otherwise("compact")
        .alias("action"),
    )
    wp = (
        Window.partitionBy("day")
        .orderBy("event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prec = F.coalesce(
        F.sum(
            F.when(F.col("action") == "compact", F.col("file_bytes"))
        ).over(wp),
        F.lit(0),
    )
    packed = classed.select(
        "*",
        F.when(F.col("action") == "keep", F.lit(-1))
        .otherwise(
            F.floor(prec.cast("double") / _CMP_TARGET).cast("long")
        )
        .alias("out_group"),
    )
    g = Window.partitionBy("day", "action", "out_group")
    return packed.select(
        "day",
        "event_type",
        "n_rows",
        "file_bytes",
        "action",
        "out_group",
        F.count(F.lit(1)).over(g).cast("long").alias("group_files"),
        F.sum("file_bytes").over(g).cast("long").alias("group_bytes"),
    )
