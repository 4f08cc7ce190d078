"""Batch KV semantics (SURVEY.md §2 B10–B12, B15) — the data model of the
reference's kvraft/shardkv/shardctrler/raft labs, re-expressed as
set-oriented plans.

The reference applies a linearized log of Get/Put/Append ops to a sharded
string KV store (reference: src/kvraft/server.go op application,
src/shardctrler/server.go rebalancing).  Batch-analytics twin: given an
ordered op log, compute the final state — Put resets a key, Append
concatenates — and compute the shard→group assignment deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.registry import LOG_MASS_LINEAR, register
from mapreduceimplementation_spark.sources.tables import load_table

N_SHARDS = 64


#: the (key, op, sval, seq) op-log derivation — ONE definition shared by
#: kv_apply_log and kv_log_compact on BOTH engines: the lab-3B snapshot
#: invariant test (test_kv.py) is only meaningful while the two operators
#: replay the identical log.
_OPS_SQL = """
        SELECT user_id AS key,
               CASE WHEN event_type = 'signup' THEN 'put' ELSE 'append' END AS op,
               CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR) AS sval,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events
"""


def _kv_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op log as a DataFrame: (user_id, op, sval, seq).  The key keeps
    its source name (user_id) so downstream windows/groupBys reuse one
    hashpartitioning — operators alias it to `key` only in their final
    projection (see kv_apply_log's docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    sval = F.round(F.col("value") * 100, 0).cast("long").cast("string")
    return ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "put").otherwise("append").alias("op"),
        sval.alias("sval"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("seq"),
    )


@register(
    "kv_apply_log",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}), cut AS (
        SELECT key, op, sval, seq,
               max(CASE WHEN op = 'put' THEN seq ELSE 0 END)
                   OVER (PARTITION BY key) AS last_put
        FROM ops
    )
    SELECT key,
           string_agg(sval, ';' ORDER BY seq) AS value,
           count(*) AS n_ops
    FROM cut
    WHERE seq >= last_put
    GROUP BY key
    """,
)
def kv_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final KV state after replaying an op log (kvraft Put/Append
    semantics): events are the log, user_id the key, 'signup' a Put (reset)
    and everything else an Append.  Set-oriented: find each key's last Put
    with a max-window, drop earlier ops, order-preserving string_agg — one
    shuffle on key, no iteration, which is how you replay a 100 TB log.

    The key keeps its source name (user_id) through every window and the
    groupBy and is aliased to `key` only in the final projection: renaming
    mid-plan makes ENSURE_REQUIREMENTS re-shuffle on the "new" column, and
    this plan's one-exchange shape is pinned by tests/test_plan_shapes.py."""
    cut = _kv_ops(spark, sf_dir).withColumn(
        "last_put",
        F.max(F.when(F.col("op") == "put", F.col("seq")).otherwise(0)).over(
            Window.partitionBy("user_id")
        ),
    ).where(F.col("seq") >= F.col("last_put"))
    agg = cut.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "sval"))),
                lambda s: s["sval"],
            ),
            ";",
        ).alias("value"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    return agg.select(F.col("user_id").alias("key"), "value", "n_ops")


@register(
    "shard_rebalance",
    oracle=f"""
    SELECT shard, n_nationkey AS gid, n_name AS group_name
    FROM (SELECT unnest(range(0, {N_SHARDS})) AS shard)
    JOIN nation ON n_nationkey = shard % (SELECT count(*) FROM nation)
    """,
)
def shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shardctrler-style deterministic shard→group assignment: N_SHARDS
    shards spread round-robin over the sorted group list, so any two
    controllers compute the identical config (the property the reference's
    Raft-replicated ctrler guarantees by consensus, achieved here by
    determinism)."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n_groups = nation.count()  # bounded dim (25) — a metadata-scale count
    shards = spark.range(N_SHARDS).select(F.col("id").alias("shard"))
    return shards.join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("shard") % n_groups
    ).select("shard", F.col("n_nationkey").alias("gid"), F.col("n_name").alias("group_name"))


#: groups that Leave in the rebalance scenario (deterministic from the dim)
_LEAVE_PRED_SQL = "n_nationkey % 5 = 3"


@register(
    "shard_rebalance_hrw",
    oracle=f"""
    WITH shards AS (SELECT unnest(range(0, {N_SHARDS})) AS shard),
    pairs AS (
        SELECT shard, n_nationkey AS gid, ({_LEAVE_PRED_SQL}) AS leaves,
               {sql_hash64("'hrw-' || CAST(n_nationkey AS VARCHAR) || '-' || CAST(shard AS VARCHAR)")} AS h
        FROM shards CROSS JOIN nation
    ),
    full_cfg  AS (SELECT shard, arg_max(gid, h) AS gid_full FROM pairs GROUP BY shard),
    alive_cfg AS (SELECT shard, arg_max(gid, h) AS gid_alive FROM pairs
                  WHERE NOT leaves GROUP BY shard)
    SELECT f.shard, gid_full, gid_alive, gid_full <> gid_alive AS moved
    FROM full_cfg f JOIN alive_cfg a ON f.shard = a.shard
    """,
)
def shard_rebalance_hrw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal-movement shard rebalancing via rendezvous (HRW) hashing.

    The reference's shardctrler recomputes a balanced config on Join/Leave
    while moving as few shards as possible (src/shardctrler/server.go,
    common.go Config).  Its iterative argmax/argmin loop is control-plane
    code; the set-oriented equivalent with the same minimal-movement
    property is rendezvous hashing: shard s belongs to
    argmax_g hash(g, s).  On Leave ONLY the leaver's shards move (every
    other shard's argmax is untouched — asserted by pytest); on Join only
    shards whose new argmax is the joiner move (~S/G).  Fully declarative:
    one bounded crossJoin (64 x 25 rows) + two max_by aggregations — no
    iteration, no driver fold, identical on any engine via md5 hashing.

    Output: each shard's owner in the full config, its owner after the
    deterministic Leave set (gid % 5 == 3) departs, and whether it moved.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    shards = spark.range(N_SHARDS).select(F.col("id").alias("shard"))
    pairs = shards.crossJoin(F.broadcast(nation)).select(
        "shard",
        F.col("n_nationkey").alias("gid"),
        (F.col("n_nationkey") % 5 == 3).alias("leaves"),
        hash64(
            F.concat(
                F.lit("hrw-"),
                F.col("n_nationkey").cast("string"),
                F.lit("-"),
                F.col("shard").cast("string"),
            )
        ).alias("h"),
    )
    full_cfg = pairs.groupBy("shard").agg(F.max_by("gid", "h").alias("gid_full"))
    alive_cfg = (
        pairs.where(~F.col("leaves"))
        .groupBy("shard")
        .agg(F.max_by("gid", "h").alias("gid_alive"))
    )
    return full_cfg.join(alive_cfg, "shard").select(
        "shard",
        "gid_full",
        "gid_alive",
        (F.col("gid_full") != F.col("gid_alive")).alias("moved"),
    )


@register(
    "kv_log_compact",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}),
    cut0 AS (
        SELECT key, op, sval, seq,
               max(seq) OVER (PARTITION BY key) // 2 AS cutoff,
               max(CASE WHEN op = 'put' THEN seq ELSE 0 END)
                   OVER (PARTITION BY key) AS last_put
        FROM ops
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN op = 'put' AND seq <= cutoff THEN seq ELSE 0 END)
                   OVER (PARTITION BY key) AS last_put_snap
        FROM cut0
    )
    SELECT key,
           any_value(cutoff) AS cutoff,
           coalesce(string_agg(CASE WHEN seq <= cutoff AND seq >= last_put_snap
                                    THEN sval END, ';' ORDER BY seq), '')
               AS snapshot_value,
           count(CASE WHEN seq > cutoff THEN 1 END) AS n_tail,
           coalesce(string_agg(CASE WHEN seq > cutoff AND seq >= last_put
                                    THEN sval END, ';' ORDER BY seq), '')
               AS tail_value,
           any_value(last_put > cutoff) AS tail_has_put,
           string_agg(CASE WHEN seq >= last_put THEN sval END, ';' ORDER BY seq)
               AS final_value
    FROM cut
    GROUP BY key
    """,
)
def kv_log_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kvraft log compaction (lab 3B maxraftstate/InstallSnapshot): each
    key's log is snapshotted at cutoff = half its length; the compacted
    representation is (snapshot state at cutoff, tail ops after it), and
    replaying the tail onto the snapshot must equal the full replay —
    pytest-asserted against kv_apply_log, the Raft "snapshot + suffix ≡
    log" invariant.

    Set-oriented: the SAME one-shuffle shape as kv_apply_log — window
    maxima give each row its key's cutoff and the last Put both globally
    and within the snapshot prefix, then one conditional aggregation emits
    snapshot state, tail size and final state together.  The log is
    shuffled once on key; compaction adds zero extra exchanges (key is
    renamed only in the final projection — see kv_apply_log — and the
    single-exchange shape is pinned by tests/test_plan_shapes.py).
    """
    ops = _kv_ops(spark, sf_dir)
    wk = Window.partitionBy("user_id")
    is_put = F.col("op") == "put"
    cut = ops.select(
        "user_id",
        "op",
        "sval",
        "seq",
        (F.max("seq").over(wk) / 2).cast("long").alias("cutoff"),
        F.max(F.when(is_put, F.col("seq")).otherwise(0)).over(wk).alias("last_put"),
    ).withColumn(
        "last_put_snap",
        F.max(
            F.when(is_put & (F.col("seq") <= F.col("cutoff")), F.col("seq")).otherwise(0)
        ).over(wk),
    )

    def _agg_vals(pred):
        # order-preserving conditional string_agg: sort (seq, sval) structs
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.filter(
                        F.collect_list(
                            F.struct("seq", F.when(pred, F.col("sval")).alias("v"))
                        ),
                        lambda s: s["v"].isNotNull(),
                    )
                ),
                lambda s: s["v"],
            ),
            ";",
        )

    in_snap = (F.col("seq") <= F.col("cutoff")) & (
        F.col("seq") >= F.col("last_put_snap")
    )
    agg = cut.groupBy("user_id").agg(
        F.first("cutoff").alias("cutoff"),
        _agg_vals(in_snap).alias("snapshot_value"),
        F.count(F.when(F.col("seq") > F.col("cutoff"), 1)).alias("n_tail"),
        _agg_vals(
            (F.col("seq") > F.col("cutoff")) & (F.col("seq") >= F.col("last_put"))
        ).alias("tail_value"),
        F.first(F.col("last_put") > F.col("cutoff")).alias("tail_has_put"),
        _agg_vals(F.col("seq") >= F.col("last_put")).alias("final_value"),
    )
    return agg.select(
        F.col("user_id").alias("key"),
        "cutoff",
        "snapshot_value",
        "n_tail",
        "tail_value",
        "tail_has_put",
        "final_value",
    )


#: shardkv's fixed shard count (src/shardkv/common.go: NShards = 10)
N_RAFT_SHARDS = 10
#: replica-group size; majority = 3 of 5
N_PEERS = 5

_SHARD_H = "'shard-' || CAST(user_id AS VARCHAR)"
_PEER_H = "'raft-' || CAST(shard AS VARCHAR) || '-' || CAST(peer AS VARCHAR)"


@register(
    "raft_committed_prefix",
    oracle=f"""
    WITH ops AS (
        SELECT {sql_hash64(_SHARD_H)} % {N_RAFT_SHARDS} AS shard
        FROM events
    ),
    lens AS (SELECT shard, count(*) AS log_len FROM ops GROUP BY shard),
    peers AS (SELECT unnest(range(0, {N_PEERS})) AS peer),
    match AS (
        SELECT shard, log_len,
               1 + {sql_hash64(_PEER_H)} % log_len AS match_idx
        FROM lens CROSS JOIN peers
    )
    SELECT shard, log_len,
           list_sort(list(match_idx), 'DESC')[3] AS commit_idx,
           log_len - list_sort(list(match_idx), 'DESC')[3] AS n_uncommitted
    FROM match
    GROUP BY shard, log_len
    """,
)
def raft_committed_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raft's commit rule as a set-oriented plan: commitIndex = the
    largest log index replicated on a majority of peers.

    The reference's raft leader advances commitIndex by scanning
    matchIndex[] for the largest N a majority has acked (src/raft — the
    Figure-2 commit rule the kvraft/shardkv labs build on).  Batch twin:
    events form the replicated op log, sharded into N_RAFT_SHARDS raft
    groups (shardkv's NShards=10) by portable hash of the key; each of
    the 5 peers in a group has a deterministic hash-derived replication
    lag (matchIndex in [1, log_len], standing in for live RPC progress);
    the group's commit index is the 3rd-largest matchIndex — the median,
    i.e. the majority-ack point.

    Scale shape: ONE scan + partial-agg count per shard (10 rows out),
    then a bounded 10×5 crossJoin and a 5-element sort_array — the full
    log is never shuffled, only counted.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    ops = ev.select(
        (
            hash64(F.concat(F.lit("shard-"), F.col("user_id").cast("string")))
            % N_RAFT_SHARDS
        ).alias("shard")
    )
    lens = ops.groupBy("shard").agg(F.count(F.lit(1)).alias("log_len"))
    peers = spark.range(N_PEERS).select(F.col("id").alias("peer"))
    match = lens.crossJoin(F.broadcast(peers)).select(
        "shard",
        "log_len",
        (
            F.lit(1)
            + hash64(
                F.concat(
                    F.lit("raft-"),
                    F.col("shard").cast("string"),
                    F.lit("-"),
                    F.col("peer").cast("string"),
                )
            )
            % F.col("log_len")
        ).alias("match_idx"),
    )
    commit = F.sort_array(F.collect_list("match_idx"), asc=False).getItem(2)
    return match.groupBy("shard", "log_len").agg(
        commit.alias("commit_idx"),
        (F.col("log_len") - commit).alias("n_uncommitted"),
    )


# ---------------------------------------------------------------------------
# B29. config_log_replay (shardctrler Join/Leave/Move -> numbered configs)

#: shardctrler's fixed shard count (reference src/shardctrler/common.go:21
#: `const NShards = 10`); equals shardkv's NShards by design.
N_CTRL_SHARDS = 10

#: deterministic ctrler op log derived from the nation dim (gids 0..24):
#:   idx  1..25  Join(gid)            one per nation, ordered by gid
#:   idx 26..29  Move(s, ...)         s in {0,3,6,9} — cleared by the leaves
#:   idx 30..34  Leave(gid)           gid % 5 == 3 ({3,8,13,18,23})
#:   idx 35..37  Move(s, ...)         s in {1,4,7} — survive to the last config
#: Move targets 5*(s%5) + (s%3): mod 5 that is s%3 in {0,1} != 3, so a Move
#: never targets a leaver — every pin's group is alive (pytest-asserted).
_CTRL_LAST_CFG = 37

_CTRL_HRW_H = "'hrw-' || CAST(gid AS VARCHAR) || '-' || CAST(shard AS VARCHAR)"

#: the full config-history derivation as a shared CTE block ending in
#: cfg(num, shard, gid, pinned) — config_log_replay's oracle SELECTs from
#: it and shardkv_migration_diff's oracle joins its self-diff against the
#: replayed KV state (the same reuse pattern as _KNN_ORACLE / PageRank).
_CTRL_CFG_CTES = f"""
    gids AS (SELECT CAST(n_nationkey AS BIGINT) AS gid FROM nation),
    shards AS (SELECT CAST(unnest(range(0, {N_CTRL_SHARDS})) AS BIGINT) AS shard),
    configs AS (SELECT CAST(unnest(range(1, {_CTRL_LAST_CFG} + 1)) AS BIGINT) AS num),
    ops_join AS (SELECT gid, gid + 1 AS idx FROM gids),
    ops_leave AS (SELECT gid, 30 + (gid - 3) // 5 AS idx FROM gids WHERE gid % 5 = 3),
    ops_move AS (
        SELECT shard, 5 * (shard % 5) + (shard % 3) AS gid,
               CASE WHEN shard % 3 = 0 THEN 26 + shard // 3
                    ELSE 35 + shard // 3 END AS idx
        FROM shards WHERE shard % 3 IN (0, 1)
    ),
    lastmem AS (
        SELECT num, max(idx) AS last_mem
        FROM configs JOIN (SELECT idx FROM ops_join
                           UNION ALL SELECT idx FROM ops_leave) m ON m.idx <= num
        GROUP BY num
    ),
    alive AS (
        SELECT num, j.gid
        FROM configs c JOIN ops_join j ON j.idx <= c.num
        LEFT JOIN ops_leave l ON l.gid = j.gid AND l.idx <= c.num
        WHERE l.gid IS NULL
    ),
    hrw AS (
        SELECT num, shard, arg_max(gid, h) AS hrw_gid
        FROM (SELECT a.num, s.shard, a.gid, {sql_hash64(_CTRL_HRW_H)} AS h
              FROM alive a CROSS JOIN shards s)
        GROUP BY num, shard
    ),
    pins AS (
        SELECT c.num, m.shard, arg_max(m.gid, m.idx) AS pin_gid
        FROM configs c JOIN lastmem lm ON lm.num = c.num
        JOIN ops_move m ON m.idx <= c.num AND m.idx > lm.last_mem
        GROUP BY c.num, m.shard
    ),
    cfg AS (
        SELECT num, shard,
               coalesce(pin_gid, hrw_gid) AS gid,
               pin_gid IS NOT NULL AS pinned
        FROM hrw LEFT JOIN pins USING (num, shard)
        UNION ALL
        SELECT 0 AS num, shard, 0 AS gid, false AS pinned FROM shards
    )
    """


@register(
    "config_log_replay",
    oracle=f"""
    WITH {_CTRL_CFG_CTES}
    SELECT num, shard, gid, pinned FROM cfg
    """,
)
def config_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shardctrler config history: replay a Join/Leave/Move op log into
    numbered configs, so Query(num) is a filter over the output — the
    reference's full ctrler RPC surface (src/shardctrler/common.go:7-10:
    Join adds groups, Leave removes them, Move(shard, gid) pins one
    shard, Query(num) fetches historical Config #num; config 0 assigns
    every shard to the invalid group 0).

    Deterministic replay semantics (the reference leaves the rebalance
    algorithm to the implementer; ours is the set-oriented one B12
    introduced): at config N the base assignment is rendezvous (HRW)
    hashing over the groups alive at N — Join/Leave therefore move the
    provable minimum of unpinned shards — and the latest Move per shard
    since the last membership change overrides its HRW owner (a
    Join/Leave triggers a full rebalance, clearing pins, which is why
    the op log exercises Moves both before and after the Leave wave).

    Scale shape: this is control-plane data — all relations are bounded
    by #configs x #groups x NShards (38 x 25 x 10), the crossJoins are
    explicit bounded broadcasts, and the two argmax aggregations are
    max_by over those bounded sets.  The point of shipping it as a plan
    is composition: shardkv_migration_diff joins the config DIFF against
    a 100 TB KV state, so the history itself must be a DataFrame, not a
    driver-side loop.  The registered query fixes the op log for the
    oracle; the real API is ``replay_config_log`` below — run any
    Join/Leave/Move log you like."""
    gids = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("gid")
    )
    shards = spark.range(N_CTRL_SHARDS).select(F.col("id").alias("shard"))

    ops_join = gids.select("gid", (F.col("gid") + 1).alias("idx"))
    ops_leave = gids.where(F.col("gid") % 5 == 3).select(
        "gid", (F.lit(30) + (F.col("gid") - 3) / 5).cast("long").alias("idx")
    )
    ops_move = shards.where(F.col("shard") % 3 < 2).select(
        "shard",
        (5 * (F.col("shard") % 5) + F.col("shard") % 3).alias("gid"),
        F.when(F.col("shard") % 3 == 0, 26 + F.col("shard") / 3)
        .otherwise(35 + F.floor(F.col("shard") / 3))
        .cast("long")
        .alias("idx"),
    )
    return replay_config_log(
        ops_join, ops_leave, ops_move, last_cfg=_CTRL_LAST_CFG
    )


def replay_config_log(
    ops_join: DataFrame,
    ops_leave: DataFrame,
    ops_move: DataFrame,
    n_shards: int = N_CTRL_SHARDS,
    last_cfg: int | None = None,
) -> DataFrame:
    """Parameterized shardctrler replay: run ANY Join/Leave/Move op log
    into the numbered config history (the API twin of the registered
    config_log_replay query, like grep() beside mr_grep).

    Inputs: ops_join/ops_leave as (gid, idx), ops_move as (shard, gid,
    idx); idx is the 1-based op index = config number it produces.  Each
    gid may Join at most once and Leave at most once (the lab's
    re-join-under-a-new-gid convention).  A Move whose target group is
    not alive at its config is IGNORED — the reference ctrler would
    reject the RPC — which the registered log never exercises but the
    API pytest does.  ``last_cfg`` skips the control-plane-sized
    max-idx lookup when the caller already knows it."""
    spark = ops_join.sparkSession
    if last_cfg is None:
        last_cfg = int(
            ops_join.select("idx")
            .unionByName(ops_leave.select("idx"))
            .unionByName(ops_move.select("idx"))
            .agg(F.max("idx"))
            .collect()[0][0]
            or 0
        )
    shards = spark.range(n_shards).select(F.col("id").alias("shard"))
    configs = spark.range(1, last_cfg + 1).select(F.col("id").alias("num"))

    mem = ops_join.select("idx").unionByName(ops_leave.select("idx"))
    lastmem = (
        configs.join(F.broadcast(mem), mem["idx"] <= configs["num"])
        .groupBy("num")
        .agg(F.max("idx").alias("last_mem"))
    )
    alive = (
        configs.join(F.broadcast(ops_join), ops_join["idx"] <= configs["num"])
        .select("num", "gid")
        .join(
            F.broadcast(
                ops_leave.select("gid", F.col("idx").alias("lidx"))
            ),
            "gid",
            "left",
        )
        .where(F.col("lidx").isNull() | (F.col("lidx") > F.col("num")))
        .select("num", "gid")
    )
    hrw = (
        alive.crossJoin(F.broadcast(shards))
        .select(
            "num",
            "shard",
            "gid",
            hash64(
                F.concat(
                    F.lit("hrw-"),
                    F.col("gid").cast("string"),
                    F.lit("-"),
                    F.col("shard").cast("string"),
                )
            ).alias("h"),
        )
        .groupBy("num", "shard")
        .agg(F.max_by("gid", "h").alias("hrw_gid"))
    )
    pins = (
        configs.join(F.broadcast(lastmem), "num")
        .join(
            F.broadcast(ops_move),
            (ops_move["idx"] <= configs["num"]) & (ops_move["idx"] > F.col("last_mem")),
        )
        # a Move to a group not alive at this config is ignored (the
        # ctrler rejects it); no-op for logs whose Moves always target
        # the living, e.g. the registered one
        .join(
            F.broadcast(
                alive.select(
                    F.col("num").alias("anum"), F.col("gid").alias("alive_gid")
                )
            ),
            (F.col("num") == F.col("anum")) & (F.col("gid") == F.col("alive_gid")),
        )
        .groupBy("num", "shard")
        .agg(F.max_by("gid", "idx").alias("pin_gid"))
    )
    cfg0 = shards.select(
        F.lit(0).cast("long").alias("num"),
        "shard",
        F.lit(0).cast("long").alias("gid"),
        F.lit(False).alias("pinned"),
    )
    return (
        hrw.join(pins, ["num", "shard"], "left")
        .select(
            "num",
            "shard",
            F.coalesce("pin_gid", "hrw_gid").alias("gid"),
            F.col("pin_gid").isNotNull().alias("pinned"),
        )
        .unionByName(cfg0)
    )


# ---------------------------------------------------------------------------
# B30. shardkv_migration_diff (cross-config shard migration data plane)


@register(
    "shardkv_migration_diff",
    oracle=f"""
    WITH {_CTRL_CFG_CTES},
    diff AS (
        SELECT b.num, b.shard, a.gid AS from_gid, b.gid AS to_gid
        FROM cfg a JOIN cfg b ON b.num = a.num + 1 AND b.shard = a.shard
        WHERE a.gid <> b.gid
    ),
    ops AS ({_OPS_SQL}),
    cut AS (
        SELECT key, op, sval, seq,
               max(CASE WHEN op = 'put' THEN seq ELSE 0 END)
                   OVER (PARTITION BY key) AS last_put
        FROM ops
    ),
    state AS (
        SELECT key,
               string_agg(sval, ';' ORDER BY seq) AS value,
               {sql_hash64("'shard-' || CAST(key AS VARCHAR)")}
                   % {N_CTRL_SHARDS} AS shard
        FROM cut WHERE seq >= last_put GROUP BY key
    )
    SELECT num, key, s.shard, from_gid, to_gid, value
    FROM state s JOIN diff d ON d.shard = s.shard
    """,
)
def shardkv_migration_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shardkv cross-config migration (lab 4B, src/shardkv/server.go):
    for every consecutive config pair (N-1, N) in the ctrler history,
    emit exactly the KV rows that must move — (num, key, shard,
    from_gid, to_gid, value) — i.e. the InstallShard payloads a group
    hands off when a reconfiguration strips it of a shard.  Keys on
    shards whose owner did not change between N-1 and N never appear
    for that N (the lab invariant that non-moving shards' data is
    untouched — pytest-asserted, along with the per-shard custody chain
    from gid 0 onward).

    The key→shard map is the portable hash shared with
    raft_committed_prefix ('shard-'||key mod NShards=10), and the value
    is the key's replayed kvraft state (kv_apply_log), so the output is
    the literal byte payload that would travel.

    Scale shape: the config DIFF is control-plane-sized (≤ #configs ×
    NShards rows) and is BROADCAST against the state; the state relation
    (the 100 TB side) is scanned once, its replay is the same
    one-exchange window/groupBy as kv_apply_log, and the join fans each
    state row out only to the configs that actually move its shard —
    no shuffle of the state on the diff key, no driver loop over
    configs."""
    # the config history is control-plane-sized ((K+1) x NShards rows);
    # checkpoint it once so the self-diff below doesn't re-derive the whole
    # ctrler replay for each join side (halves the plan's exchanges) — at
    # deploy this relation would be a materialized ctrler table anyway
    cfg = (
        config_log_replay(spark, sf_dir)
        .select("num", "shard", "gid")
        .localCheckpoint(eager=True)
    )
    nxt = cfg.select(
        (F.col("num") - 1).alias("pnum"),
        F.col("shard").alias("pshard"),
        F.col("gid").alias("to_gid"),
        F.col("num").alias("num"),
    )
    diff = (
        cfg.join(
            nxt,
            (cfg["num"] == nxt["pnum"]) & (cfg["shard"] == nxt["pshard"]),
        )
        .where(F.col("gid") != F.col("to_gid"))
        .select(
            nxt["num"].alias("num"),
            "shard",
            F.col("gid").alias("from_gid"),
            "to_gid",
        )
    )
    state = kv_apply_log(spark, sf_dir).select(
        "key",
        "value",
        (
            hash64(F.concat(F.lit("shard-"), F.col("key").cast("string")))
            % N_CTRL_SHARDS
        ).alias("shard"),
    )
    return state.join(F.broadcast(diff), "shard").select(
        "num", "key", "shard", "from_gid", "to_gid", "value"
    )


# ---------------------------------------------------------------------------
# B51. kv_linearizability_audit — porcupine's KvModel as a trace-audit query
#
# The reference validates EVERY kvraft/shardkv test history with the
# porcupine linearizability checker (/root/reference/src/porcupine/
# checker.go, invoked via /root/reference/src/models/kv.go:17 KvModel at
# /root/reference/src/kvraft/test_test.go:3,53).  Porcupine's first move is
# the per-key decomposition (KvModel.Partition): a KV history is
# linearizable iff each key's sub-history is — which is exactly a
# groupBy(key) in an analytics engine.  Porcupine then runs an exponential
# DFS per key; a 100 TB trace audit cannot, so this operator implements the
# classical POLYNOMIAL register audit (Gibbons & Korach, "Testing Shared
# Memories", SIAM J. Comput. 1997; Misra's register axioms): with
# per-key-unique write values (the labs' nrand() request ids give exactly
# this), a read's matched write is unambiguous and these interval-order
# rules catch the violation classes the labs' checker fails on:
#
#   unknown_value  read returns a value no write ever wrote
#   future_read    read completes before its matched write begins
#   stale_read     a later write DEFINITIVELY overwrote the matched write
#                  before the read began (w.ret < w'.inv and w'.ret < r.inv)
#   read_reorder   two non-overlapping reads observe definitively-ordered
#                  writes in reverse (new-old inversion)
#
# Each rule is necessary for linearizability (any schedule must respect
# real-time order), so every flagged row is a TRUE violation — the audit
# never false-positives; concurrent (overlapping) intervals are left
# unflagged exactly as a linearizable schedule may order them freely.

_LIN_DUR_BASE = 1_000  # µs: minimum op latency in the derived history
_LIN_DUR_MOD = 4_999_000  # µs: latency spread (max ~5 s, forces overlap)
_LIN_STALE_EVERY = 17  # 1/17 of reads return the second-latest write
_LIN_XMIN = -(1 << 62)  # "before all time": the initial value's virtual
#: write returns at -2^62, so the initial cluster precedes every op


def derive_kv_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concurrent Get/Put history from the events table:
    key = user_id, writes = signup/purchase events (value = event_id,
    unique), reads = the rest.  invoke = the event's µs timestamp; return
    = invoke + a hash-derived 1 ms..5 s latency, so intervals overlap
    across clients like a real concurrent trace.  Reads return the latest
    write at-or-before their invoke — except a hash-chosen 1/17, which
    return the SECOND-latest (a real stale read whenever the skipped
    write's interval fully precedes the read's).

    Output: (key, kind, val, inv, ret, opid) — ``linearizability_audit``'s
    input contract."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    dur = _LIN_DUR_BASE + hash64(
        F.col("event_id").cast("string"), salt="linz-dur"
    ) % _LIN_DUR_MOD
    is_put = F.col("event_type").isin("signup", "purchase")
    base = ev.select(
        F.col("user_id").alias("key"),
        F.when(is_put, "put").otherwise("get").alias("kind"),
        F.col("event_id").alias("opid"),
        F.unix_micros("ts").alias("inv"),
        (F.unix_micros("ts") + dur).alias("ret"),
    )
    # total per-key order with puts before gets at equal invoke (a read at
    # the same instant observes the write — the "<=" convention both
    # engines replay identically)
    kindrank = F.when(F.col("kind") == "put", 0).otherwise(1)
    w_prev = (
        Window.partitionBy("key")
        .orderBy("inv", kindrank, "opid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cur = (
        Window.partitionBy("key")
        .orderBy("inv", kindrank, "opid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    putval = F.when(F.col("kind") == "put", F.col("opid"))
    staged = base.withColumn(
        "prev_put", F.last(putval, ignorenulls=True).over(w_prev)
    )
    w1 = F.last(putval, ignorenulls=True).over(w_cur)
    w2 = F.last(
        F.when(F.col("kind") == "put", F.col("prev_put")), ignorenulls=True
    ).over(w_cur)
    inject = (
        hash64(F.col("opid").cast("string"), salt="linz-st") % _LIN_STALE_EVERY
        == 0
    )
    val = (
        F.when(F.col("kind") == "put", F.col("opid"))
        .when(inject & w2.isNotNull(), w2)
        .otherwise(F.coalesce(w1, F.lit(-1)))
    )
    return staged.select(
        "key", "kind", val.alias("val"), "inv", "ret", "opid"
    )


def cluster_crossings(blocks: DataFrame, id_col: str = "val") -> DataFrame:
    """Pair-free interval-crossing detector — the shared core of every
    linearizability audit in this repo (B51 write_order_cycle, B62
    cross, B85's generic engine; reference src/porcupine/checker.go:1
    is the sequential-search equivalent).

    ``blocks``: (key, <id_col>, x, y) where a block is a set of ops that
    must serialize CONTIGUOUSLY, x = min return over its ops (pin
    _LIN_XMIN for an initial-state block) and y = max invoke.  Block u
    precedes v iff x_u < y_v (some u-op returns before some v-op
    invokes); for interval-threshold relations of this shape any
    precedence cycle implies a 2-cycle — u and v CROSS (x_u < y_v AND
    x_v < y_u) — so the history serializes iff no pair crosses.

    Detection without pair expansion (the B51 derivation): a crossing
    partner d of any block c satisfies x_d < y_c ∧ y_d > x_c; a normal
    block (x ≥ y — its ops share a common instant) can never partner a
    normal block, so flag c iff it crosses a lexicographically
    ((x, id)) EARLIER block — backward c (x < y) needs only a running
    max of y over earlier blocks (x_d ≤ x_c < y_c implies the first
    bound), normal c needs one interleave probe (entries = backward
    blocks at t = x_d, probes at t = y_c, probes first on ties for the
    strict bound).  Two windows over the block-count-sized relation,
    zero pair joins.

    Returns one row per flagged-or-backward/normal-probe block:
    (key, crossed bool) — aggregate with a per-key sum."""
    w_lex = (
        Window.partitionBy("key")
        .orderBy("x", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cross_b = (
        blocks.withColumn("pm", F.max("y").over(w_lex))
        .where(F.col("x") < F.col("y"))
        .select("key", (F.col("pm") > F.col("x")).alias("crossed"))
    )
    entries = blocks.where(F.col("x") < F.col("y")).select(
        "key",
        F.col("x").alias("t"),
        F.col("y").alias("ey"),
        F.lit(0).alias("is_probe"),
        id_col,
        F.lit(None).cast("long").alias("px"),
    )
    probes = blocks.where(F.col("x") >= F.col("y")).select(
        "key",
        F.col("y").alias("t"),
        F.lit(None).cast("long").alias("ey"),
        F.lit(1).alias("is_probe"),
        id_col,
        F.col("x").alias("px"),
    )
    w_cyc = (
        Window.partitionBy("key")
        .orderBy(F.col("t").asc(), F.col("is_probe").desc(), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cross_n = (
        entries.unionByName(probes)
        .withColumn("pm", F.max("ey").over(w_cyc))
        .where(F.col("is_probe") == 1)
        .select("key", (F.col("pm") > F.col("px")).alias("crossed"))
    )
    return cross_b.unionByName(cross_n)


def linearizability_audit(history: DataFrame) -> DataFrame:
    """Per-key linearizability audit of a concurrent register history.

    ``history``: (key, kind 'put'|'get', val long, inv long, ret long,
    opid long) with inv <= ret, per-key-UNIQUE write values (the labs'
    nrand() ids; makes read→write matching unambiguous — the assumption
    under which the register rules are the exact polynomial check), and
    val = -1 denoting a read of the initial value.  Emits one row per key
    with op counts, per-rule violation counts, and the verdict.

    Rule set (complete for unique-write registers; differentially
    verified against a brute-force all-linearizations checker on 9k+
    random histories, tests/test_kv.py): unknown and future are per-read;
    the DECIDING rule is write_order_cycle — value clusters (a write plus
    its reads) must serialize as contiguous blocks, so the history is
    linearizable iff no two clusters CROSS (x_u < y_v and x_v < y_u over
    (x, y) = (min ret, max inv)); any longer precedence cycle implies a
    crossing pair.  stale and reorder remain as named special cases of a
    crossing (the classes ops teams grep for), counted per read.

    Scale shape (all per-key, porcupine's own decomposition): the
    read→write match is ONE equi-join on (key, val); the stale rule is a
    DESC-ordered interleave window — writes carry their return, each read
    probes at its matched write's return, and a running MIN over
    earlier (= later-starting) writes yields min{w'.ret : w'.inv > w.ret}
    with no write×read pair expansion; the inversion rule is the ASC dual
    (probe at read invoke, running MAX of matched-write invokes over
    completed reads); the crossing rule is two more windows over the
    WRITE-COUNT-sized cluster relation (running max for backward
    clusters, one stale-style interleave for the rest — see the family
    comment).  Per-key state is the key's own op count — a hot key costs
    what porcupine's per-key check would, never a cross-key product."""
    writes = (
        history.where(F.col("kind") == "put")
        .select(
            "key",
            "val",
            F.col("inv").alias("w_inv"),
            F.col("ret").alias("w_ret"),
            F.col("opid").alias("w_opid"),
        )
        .localCheckpoint(eager=False)
    )
    reads = history.where(F.col("kind") == "get").select(
        "key", "opid", "inv", "ret", "val"
    )
    matched = (
        reads.join(writes.drop("w_opid"), ["key", "val"], "left")
        .select(
            "key",
            "opid",
            "inv",
            "ret",
            "val",
            F.coalesce("w_inv", F.lit(-1)).alias("w_inv"),
            F.coalesce("w_ret", F.lit(-1)).alias("w_ret"),
            ((F.col("val") != -1) & F.col("w_inv").isNull()).alias("unknown"),
        )
        .localCheckpoint(eager=False)
    )
    ok = ~F.col("unknown")

    # rule: future_read (row-local — the read ends before its write begins)
    future = F.col("ret") < F.col("w_inv")

    # rule: stale_read — min{w'.ret : w'.inv > w.ret} < r.inv via a
    # DESC interleave: probes (at t = matched write's return) sort BEFORE
    # equal-t writes so the strict `inv > w.ret` bound holds exactly
    w_stale_rows = writes.select(
        "key",
        F.col("w_inv").alias("t"),
        F.col("w_ret").alias("mret"),
        F.lit(0).alias("is_probe"),
        F.col("w_opid").alias("opid"),
        F.lit(None).cast("long").alias("r_inv"),
    )
    stale_probes = matched.where(ok).select(
        "key",
        F.col("w_ret").alias("t"),
        F.lit(None).cast("long").alias("mret"),
        F.lit(1).alias("is_probe"),
        "opid",
        F.col("inv").alias("r_inv"),
    )
    w_desc = (
        Window.partitionBy("key")
        .orderBy(F.col("t").desc(), F.col("is_probe").desc(), F.col("opid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stale_flags = (
        w_stale_rows.unionByName(stale_probes)
        .withColumn("min_ret_after", F.min("mret").over(w_desc))
        .where(F.col("is_probe") == 1)
        .select(
            "key",
            (F.col("min_ret_after") < F.col("r_inv")).alias("stale"),
        )
    )

    # rule: read_reorder — max{w1.inv : r1.ret < r2.inv} > w2.ret via the
    # ASC dual: completed reads carry their matched write's invoke; probes
    # (at t = read invoke) sort BEFORE equal-t completions (strict <)
    completed = matched.where(ok).select(
        "key",
        F.col("ret").alias("t"),
        F.col("w_inv").alias("minv"),
        F.lit(0).alias("is_probe"),
        "opid",
        F.lit(None).cast("long").alias("r_wret"),
    )
    reorder_probes = matched.where(ok).select(
        "key",
        F.col("inv").alias("t"),
        F.lit(None).cast("long").alias("minv"),
        F.lit(1).alias("is_probe"),
        "opid",
        F.col("w_ret").alias("r_wret"),
    )
    w_asc = (
        Window.partitionBy("key")
        .orderBy(F.col("t").asc(), F.col("is_probe").desc(), F.col("opid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    reorder_flags = (
        completed.unionByName(reorder_probes)
        .withColumn("max_prior_winv", F.max("minv").over(w_asc))
        .where(F.col("is_probe") == 1)
        .select(
            "key",
            (F.col("max_prior_winv") > F.col("r_wret")).alias("reorder"),
        )
    )

    # rule: write_order_cycle — the COMPLETING rule (r5).  Group each
    # write with its reads into a value cluster; cluster u must serialize
    # as one contiguous block, so cluster precedence is an interval
    # order on (x, y) = (min ret, max inv) over the cluster's ops:
    # u ≺ v iff x_u < y_v.  A history with legal per-read matches is
    # linearizable iff this relation is acyclic, and for threshold
    # relations of this shape any cycle implies a 2-cycle
    # (x_u < y_v AND x_v < y_u — clusters CROSS).  stale and reorder are
    # the two special cases of a crossing that older rule sets catch;
    # the brute-force differential (tests/test_kv.py) showed they are
    # not complete — e.g. two overlapping writes whose reads force
    # opposite write orders without any read pair being comparable.
    # Reads of the initial value form a cluster whose virtual write
    # returns before all time (x = -2^62).
    #
    # Detection without pair expansion: a crossing partner d of ANY
    # cluster c must satisfy x_d < y_c ∧ y_d > x_c; a normal cluster
    # (x ≥ y — its ops share a common instant) can never partner a
    # normal cluster, so flag c iff it crosses a lexicographically
    # ((x, val)) EARLIER cluster — backward c (x < y) needs only a
    # running max of y over earlier clusters (the x_d < y_c bound is
    # implied by x_d ≤ x_c < y_c), normal c needs the same interleave
    # probe as the stale rule (entries = backward clusters at t = x_d,
    # probes at t = y_c, probes first on ties for the strict bound).
    # The oracle states the crossing as a literal EXISTS over cluster
    # pairs with the same lex orientation.
    cl_src = writes.select(
        "key", "val", F.col("w_ret").alias("r"), F.col("w_inv").alias("i")
    ).unionByName(
        matched.where(ok).select(
            "key", "val", F.col("ret").alias("r"), F.col("inv").alias("i")
        )
    )
    clusters = (
        cl_src.groupBy("key", "val")
        .agg(F.min("r").alias("x0"), F.max("i").alias("y"))
        .select(
            "key",
            "val",
            F.when(F.col("val") == -1, F.lit(_LIN_XMIN))
            .otherwise(F.col("x0"))
            .alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    cluster_crossed = cluster_crossings(clusters, id_col="val")

    ops = history.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("kind") == "put", 1).otherwise(0)).alias("n_puts"),
        F.sum(F.when(F.col("kind") == "get", 1).otherwise(0)).alias("n_gets"),
    )
    base_flags = matched.groupBy("key").agg(
        F.sum(F.when(F.col("unknown"), 1).otherwise(0)).alias("n_unknown"),
        F.sum(F.when(ok & future, 1).otherwise(0)).alias("n_future"),
    )
    stale_agg = stale_flags.groupBy("key").agg(
        F.sum(F.when(F.col("stale"), 1).otherwise(0)).alias("n_stale")
    )
    reorder_agg = reorder_flags.groupBy("key").agg(
        F.sum(F.when(F.col("reorder"), 1).otherwise(0)).alias("n_reorder")
    )
    cycle_agg = cluster_crossed.groupBy("key").agg(
        F.sum(F.when(F.col("crossed"), 1).otherwise(0)).alias("n_cycle")
    )
    out = (
        ops.join(base_flags, "key", "left")
        .join(stale_agg, "key", "left")
        .join(reorder_agg, "key", "left")
        .join(cycle_agg, "key", "left")
        .select(
            "key",
            "n_ops",
            "n_puts",
            "n_gets",
            F.coalesce("n_unknown", F.lit(0)).alias("n_unknown"),
            F.coalesce("n_future", F.lit(0)).alias("n_future"),
            F.coalesce("n_stale", F.lit(0)).alias("n_stale"),
            F.coalesce("n_reorder", F.lit(0)).alias("n_reorder"),
            F.coalesce("n_cycle", F.lit(0)).alias("n_cycle"),
        )
    )
    # n_cycle alone (with unknown/future) decides the verdict — stale and
    # reorder are always crossings too, so the sum is equivalent to
    # unknown + future + cycle; keeping them in the sum is belt-and-braces
    return out.withColumn(
        "linearizable",
        (
            F.col("n_unknown")
            + F.col("n_future")
            + F.col("n_stale")
            + F.col("n_reorder")
            + F.col("n_cycle")
        )
        == 0,
    )


_LIN_H_DUR = sql_hash64("'linz-dur' || CAST(event_id AS VARCHAR)")
_LIN_H_ST = sql_hash64("'linz-st' || CAST(opid AS VARCHAR)")

_LIN_HISTORY_SQL = f"""
    WITH raw AS (
        SELECT user_id AS key,
               CASE WHEN event_type IN ('signup', 'purchase')
                    THEN 'put' ELSE 'get' END AS kind,
               event_id AS opid,
               CAST(epoch_us(ts) AS BIGINT) AS inv,
               CAST(epoch_us(ts) AS BIGINT) + {_LIN_DUR_BASE}
                   + ({_LIN_H_DUR} % {_LIN_DUR_MOD}) AS ret
        FROM events
    ),
    prevd AS (
        SELECT *,
               last_value(CASE WHEN kind = 'put' THEN opid END IGNORE NULLS)
                   OVER (PARTITION BY key
                         ORDER BY inv, CASE kind WHEN 'put' THEN 0 ELSE 1 END,
                                  opid
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_put
        FROM raw
    ),
    win AS (
        SELECT key, kind, opid, inv, ret,
               last_value(CASE WHEN kind = 'put' THEN opid END IGNORE NULLS)
                   OVER w AS w1,
               last_value(CASE WHEN kind = 'put' THEN prev_put END IGNORE NULLS)
                   OVER w AS w2
        FROM prevd
        WINDOW w AS (PARTITION BY key
                     ORDER BY inv, CASE kind WHEN 'put' THEN 0 ELSE 1 END, opid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    hist AS (
        SELECT key, kind, opid, inv, ret,
               CASE WHEN kind = 'put' THEN opid
                    WHEN ({_LIN_H_ST} % {_LIN_STALE_EVERY}) = 0
                         AND w2 IS NOT NULL THEN w2
                    ELSE COALESCE(w1, -1) END AS val
        FROM win
    )
"""


@register(
    "kv_linearizability_audit",
    oracle=f"""
    {_LIN_HISTORY_SQL},
    writes AS (
        SELECT key, val, inv AS w_inv, ret AS w_ret
        FROM hist WHERE kind = 'put'
    ),
    reads AS (
        SELECT h.key, h.opid, h.inv, h.ret, h.val,
               COALESCE(w.w_inv, -1) AS w_inv,
               COALESCE(w.w_ret, -1) AS w_ret,
               (h.val <> -1 AND w.w_inv IS NULL) AS unknown
        FROM hist h
        LEFT JOIN writes w ON w.key = h.key AND w.val = h.val
        WHERE h.kind = 'get'
    ),
    flags AS (
        SELECT r.key,
               r.unknown,
               (NOT r.unknown AND r.ret < r.w_inv) AS future,
               (NOT r.unknown AND EXISTS (
                   SELECT 1 FROM writes w2
                   WHERE w2.key = r.key AND w2.w_inv > r.w_ret
                     AND w2.w_ret < r.inv)) AS stale,
               (NOT r.unknown AND EXISTS (
                   SELECT 1 FROM reads r1
                   WHERE r1.key = r.key AND NOT r1.unknown
                     AND r1.ret < r.inv AND r1.w_inv > r.w_ret)) AS reorder
        FROM reads r
    ),
    ragg AS (
        SELECT key,
               CAST(SUM(CASE WHEN unknown THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unknown,
               CAST(SUM(CASE WHEN future THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_future,
               CAST(SUM(CASE WHEN stale THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_stale,
               CAST(SUM(CASE WHEN reorder THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_reorder
        FROM flags GROUP BY key
    ),
    cl AS (
        SELECT key, val,
               CASE WHEN val = -1 THEN CAST({_LIN_XMIN} AS BIGINT)
                    ELSE MIN(r) END AS x,
               MAX(i) AS y
        FROM (
            SELECT key, val, w_ret AS r, w_inv AS i FROM writes
            UNION ALL
            SELECT key, val, ret AS r, inv AS i FROM reads WHERE NOT unknown
        ) GROUP BY key, val
    ),
    cagg AS (
        SELECT a.key, CAST(count(*) AS BIGINT) AS n_cycle
        FROM cl a
        WHERE EXISTS (
            SELECT 1 FROM cl b
            WHERE b.key = a.key
              AND (b.x < a.x OR (b.x = a.x AND b.val < a.val))
              AND b.x < a.y AND a.x < b.y)
        GROUP BY a.key
    ),
    oagg AS (
        SELECT key,
               CAST(count(*) AS BIGINT) AS n_ops,
               CAST(SUM(CASE WHEN kind = 'put' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_puts,
               CAST(SUM(CASE WHEN kind = 'get' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gets
        FROM hist GROUP BY key
    )
    SELECT key, n_ops, n_puts, n_gets,
           COALESCE(n_unknown, 0) AS n_unknown,
           COALESCE(n_future, 0) AS n_future,
           COALESCE(n_stale, 0) AS n_stale,
           COALESCE(n_reorder, 0) AS n_reorder,
           COALESCE(n_cycle, 0) AS n_cycle,
           (COALESCE(n_unknown, 0) + COALESCE(n_future, 0)
            + COALESCE(n_stale, 0) + COALESCE(n_reorder, 0)
            + COALESCE(n_cycle, 0)) = 0
               AS linearizable
    FROM oagg LEFT JOIN ragg USING (key) LEFT JOIN cagg USING (key)
    """,
)
def kv_linearizability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linearizability verdicts over a derived concurrent Get/Put
    history — the analytics twin of the reference's porcupine check
    (src/porcupine/checker.go + src/models/kv.go:17 KvModel, run on every
    kvraft history at src/kvraft/test_test.go:53).  See
    ``linearizability_audit`` for the rule set and scale shape; the
    injected second-latest reads (1/17) make the output a genuine mix of
    violating and clean keys rather than a vacuous all-green table.

    The DuckDB oracle replays the identical derivation, then states each
    rule as its literal quadratic EXISTS — obviously-correct-by-inspection
    SQL — so a green hash certifies the scalable window/probe formulation
    against the textbook definition."""
    return linearizability_audit(derive_kv_history(spark, sf_dir))


# ---------------------------------------------------------------------------
# B59. lock_grant_audit — the lockservice labs' grant/deny spec as a
# trace audit
#
# The reference ships the lockservice client/server entry points
# (/root/reference/src/main/lockc.go: Clerk.Lock/Unlock returning a grant
# bool, /root/reference/src/main/lockd.go: primary/backup StartServer) —
# the pre-Raft 6.824 lock-service lab.  Its spec is sequential: Lock(l)
# is granted iff l is free, Unlock(l) succeeds iff l is held, and a
# primary/backup pair must answer exactly like one serial server (the lab
# tests replay a history against that spec and fail on any divergence —
# the classic lost-state-on-failover bug).  Trace-audit twin: given an
# observed (lock, op, granted) history, REPLAY the serial spec per lock
# and diff the observed grant bits against it.
#
# The replay is one window, not a stateful scan: after ANY lock attempt
# the lock is held (a denied Lock means it was already held) and after
# ANY unlock attempt it is free (a denied Unlock means it was already
# free) — so the state a lock is in before op i is simply
# "was op i-1 a lock attempt", i.e. LAG(op), and the whole serial spec
# is row-local after ONE per-lock ordered window.

_LOCK_FAULT_EVERY = 29  # 1/29 observed grant bits flipped (failover bug)

_LOCK_HIST_SQL = f"""
        SELECT user_id AS lock,
               CASE WHEN {sql_hash64("'lkop' || CAST(event_id AS VARCHAR)")}
                         % 2 = 0
                    THEN 'lock' ELSE 'unlock' END AS op,
               ts, event_id,
               {sql_hash64("'lkfault' || CAST(event_id AS VARCHAR)")}
                   % {_LOCK_FAULT_EVERY} = 0 AS fault
        FROM events
"""


@register(
    "lock_grant_audit",
    oracle=f"""
    WITH hist AS ({_LOCK_HIST_SQL}),
    replay AS (
        SELECT lock, op, fault,
               CASE WHEN op = 'lock'
                    THEN COALESCE(LAG(op) OVER w, 'unlock') = 'unlock'
                    ELSE COALESCE(LAG(op) OVER w, 'unlock') = 'lock'
               END AS spec_grant
        FROM hist
        WINDOW w AS (PARTITION BY lock ORDER BY ts, event_id)
    )
    SELECT lock,
           CAST(count(*) AS BIGINT) AS n_ops,
           CAST(SUM(CASE WHEN op = 'lock' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lock_ops,
           CAST(SUM(CASE WHEN spec_grant <> fault THEN 1 ELSE 0 END)
                AS BIGINT) AS n_granted,
           CAST(SUM(CASE WHEN fault THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
           CASE WHEN SUM(CASE WHEN fault THEN 1 ELSE 0 END) > 0
                THEN 'VIOLATION' ELSE 'ok' END AS verdict
    FROM replay
    GROUP BY lock
    """,
)
def lock_grant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lock audit of an observed Lock/Unlock grant history against
    the serial lock-service spec (reference src/main/lockc.go Lock/Unlock
    grant bools, src/main/lockd.go primary/backup servers; the lab's
    failover tests replay exactly this check).

    Derived history: events are the op stream — lock name = user_id, op
    kind hash-derived per event, observed grant = the serial spec's
    answer with a hash-chosen 1/29 of bits flipped (the lost-state
    failover bug the lab hunts).  ``audit_lock_grants`` (the reusable
    trace-audit API, fed by tests with hand-built violating histories)
    replays the spec with ONE per-lock LAG window (see the family
    comment: state-before-op == "previous op was a lock attempt"), diffs
    observed vs spec row-local, and aggregates per lock — a violating
    lock is named, counted, and every flagged row is a TRUE violation
    (the spec is deterministic).

    Scale shape: one hash exchange on lock for the window; the groupBy
    reuses the same partitioning (window partitionBy == groupBy key =>
    ENSURE_REQUIREMENTS adds no second shuffle); everything else is
    row-local.  Per-lock state = that lock's op count, never cross-lock."""
    return audit_lock_grants(derive_lock_history(spark, sf_dir))


def derive_lock_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic observed Lock/Unlock history from events: (lock, op,
    granted, ts, opid) — ``audit_lock_grants``'s input contract.  The
    observed grant bit is the serial spec's answer XOR a hash-chosen
    1/29 fault."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    eid = F.col("event_id").cast("string")
    hist = ev.select(
        F.col("user_id").alias("lock"),
        "ts",
        F.col("event_id").alias("opid"),
        F.when(hash64(eid, salt="lkop") % 2 == 0, "lock")
        .otherwise("unlock")
        .alias("op"),
        (hash64(eid, salt="lkfault") % _LOCK_FAULT_EVERY == 0).alias("fault"),
    )
    spec = _lock_spec_grant(Window.partitionBy("lock").orderBy("ts", "opid"))
    # the fault flips the answered bit (boolean XOR)
    return hist.select(
        "lock", "op", (spec != F.col("fault")).alias("granted"), "ts", "opid"
    )


def _lock_spec_grant(w: WindowSpec) -> Column:
    """The serial lock spec's grant bit for each op, as one LAG window:
    the state before op i is held iff op i-1 was a lock ATTEMPT
    (regardless of its grant — see the family comment)."""
    prev = F.coalesce(F.lag("op").over(w), F.lit("unlock"))
    return F.when(F.col("op") == "lock", prev == "unlock").otherwise(
        prev == "lock"
    )


def audit_lock_grants(history: DataFrame) -> DataFrame:
    """Diff an observed lock-service history against the serial spec.

    ``history``: (lock, op 'lock'|'unlock', granted bool, ts, opid) —
    the observed reply bits of a lock service.  Emits one row per lock
    with op counts, the observed-vs-spec mismatch count, and the verdict."""
    spec = _lock_spec_grant(Window.partitionBy("lock").orderBy("ts", "opid"))
    replay = history.withColumn("spec_grant", spec)
    viol = F.sum(
        F.when(F.col("granted") != F.col("spec_grant"), 1).otherwise(0)
    )
    return replay.groupBy("lock").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("op") == "lock", 1).otherwise(0)).alias(
            "n_lock_ops"
        ),
        F.sum(F.when(F.col("granted"), 1).otherwise(0)).alias("n_granted"),
        viol.alias("n_violations"),
        F.when(viol > 0, "VIOLATION").otherwise("ok").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# B60. view_change_audit — the viewservice succession rules as a trace audit
#
# The reference's viewservice entry point (/root/reference/src/main/viewd.go,
# consumed by the primary/backup server in pbd.go) implements the 6.824
# primary/backup view protocol: views are numbered consecutively; the
# primary of view v+1 MUST have been the primary or backup of view v
# (state has to flow through a live replica), and the service may only
# move past view v after v's primary has ACKED it.  Trace-audit twin:
# given a view-change log (viewnum, primary, backup, acked), check every
# transition with a LAG window and name the violations.

_N_VIEWS = 500
_VIEW_FAULT_EVERY = 13  # 1/13 of views get a hash-chosen (junk) primary
_VIEW_UNACK_EVERY = 7  # 1/7 of views were never acked by their primary

_VIEW_LOG_SQL = f"""
        SELECT v AS viewnum,
               CASE WHEN v = 1 THEN 0
                    WHEN {sql_hash64("'vwf' || CAST(v AS VARCHAR)")}
                         % {_VIEW_FAULT_EVERY} = 0
                    THEN (v * 11 + 5) % 25
                    ELSE ((v - 1) * 7 + 3) % 25 END AS p_idx,
               (v * 7 + 3) % 25 AS b_idx,
               {sql_hash64("'vwack' || CAST(v AS VARCHAR)")}
                   % {_VIEW_UNACK_EVERY} <> 0 AS acked
        FROM (SELECT unnest(range(1, {_N_VIEWS} + 1)) AS v)
"""


@register(
    "view_change_audit",
    oracle=f"""
    WITH log AS ({_VIEW_LOG_SQL}),
    named AS (
        SELECT viewnum, acked,
               pn.n_name AS "primary", bn.n_name AS backup, p_idx, b_idx
        FROM log
        JOIN nation pn ON pn.n_nationkey = p_idx
        JOIN nation bn ON bn.n_nationkey = b_idx
    ),
    audit AS (
        SELECT viewnum, "primary", backup, acked,
               COALESCE(p_idx IN (LAG(p_idx) OVER w, LAG(b_idx) OVER w),
                        TRUE) AS ok_succession,
               COALESCE(LAG(acked) OVER w, TRUE) AS ok_ack
        FROM named
        WINDOW w AS (ORDER BY viewnum)
    )
    SELECT viewnum, "primary", backup, acked, ok_succession, ok_ack,
           CASE WHEN ok_succession AND ok_ack THEN 'ok'
                WHEN NOT ok_succession THEN 'BAD_SUCCESSION'
                ELSE 'UNACKED_CHANGE' END AS verdict
    FROM audit
    """,
)
def view_change_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit a primary/backup view-change log against the viewservice
    succession rules (reference src/main/viewd.go / pbd.go; the 6.824
    view protocol): the new primary must come from the previous view's
    {primary, backup}, and a view may only be superseded once its
    primary has acked it.

    Derived log: _N_VIEWS consecutive views over the nation dim's 25
    servers; the normal succession promotes the previous backup, a
    hash-chosen 1/13 installs a junk primary (the split-brain bug) and
    1/7 are never acked — so both verdict classes genuinely occur and
    'ok' dominates.  The audit itself never sees the generator: it
    checks transitions with LAG over viewnum, exactly what it would do
    on a real trace.

    Scale shape: control-plane sized (views × 25 servers); the two name
    joins broadcast the dim, the single-partition ordered window is by
    nature of a GLOBAL view sequence (a real deployment has one view
    service; per-cluster logs would partition by cluster id)."""
    v = F.col("id")
    fault = hash64(v.cast("string"), salt="vwf") % _VIEW_FAULT_EVERY == 0
    log = spark.range(1, _N_VIEWS + 1).select(
        v.alias("viewnum"),
        F.when(v == 1, F.lit(0))
        .when(fault, (v * 11 + 5) % 25)
        .otherwise(((v - 1) * 7 + 3) % 25)
        .alias("p_idx"),
        ((v * 7 + 3) % 25).alias("b_idx"),
        (hash64(v.cast("string"), salt="vwack") % _VIEW_UNACK_EVERY != 0).alias(
            "acked"
        ),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    named = (
        log.join(
            F.broadcast(nation.withColumnRenamed("n_name", "primary")),
            F.col("p_idx") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "backup")),
            F.col("b_idx") == F.col("n_nationkey"),
        )
        .drop("n_nationkey", "p_idx", "b_idx")
    )
    return audit_view_log(named)


def audit_view_log(log: DataFrame) -> DataFrame:
    """Audit a view-change log against the view-service succession rules.

    ``log``: (viewnum, primary, backup, acked) with viewnum defining the
    total order and primary/backup any comparable server ids.  Emits one
    row per view with the two rule bits and the verdict — the first view
    is vacuously valid."""
    w = Window.orderBy("viewnum")
    prev_p, prev_b = F.lag("primary").over(w), F.lag("backup").over(w)
    ok_succ = F.coalesce(
        (F.col("primary") == prev_p) | (F.col("primary") == prev_b),
        F.lit(True),
    )
    ok_ack = F.coalesce(F.lag("acked").over(w), F.lit(True))
    return log.select(
        "viewnum",
        "primary",
        "backup",
        "acked",
        ok_succ.alias("ok_succession"),
        ok_ack.alias("ok_ack"),
        F.when(ok_succ & ok_ack, "ok")
        .when(~ok_succ, "BAD_SUCCESSION")
        .otherwise("UNACKED_CHANGE")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# B62. kv_append_linearizability — Put/Append/Get linearizability audit
# (the reference KvModel's FULL op set: src/models/kv.go:17 state machine,
# Step at kv.go:40 — Get must equal state, Put replaces, Append
# concatenates — checked by porcupine over every kvraft history at
# src/kvraft/test_test.go).  B51 covers the register subset (Put/Get);
# this audit adds Append, whose read-back value identifies the exact
# append SEQUENCE, keeping per-key matching polynomial when append
# payloads are unique (the labs' nrand() trick).

_APLIN_SWAP_EVERY = 23  # 1/23 of reads observe their last two appends swapped
_APLIN_DROP_EVERY = 17  # 1/17 of reads observe the state minus its last append


def derive_kv_append_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concurrent Put/Append/Get history from the events
    table: key = user_id, puts = signup events, appends = purchase
    events, reads = the rest.  invoke = the event's µs timestamp; return
    = invoke + a hash-derived 1 ms..5 s latency (intervals overlap across
    clients like a real trace).  State values are token sequences:
    '<put_opid>|<append_opid>|...' with '-1' for the initial state, so a
    read-back pins the exact append order (KvModel's concatenation,
    tokenized).  Reads replay the '<=' convention state — except a
    hash-chosen 1/23 (with >= 2 appends in segment) observe their last
    two appends SWAPPED, and a further 1/17 (with >= 1) observe the state
    MINUS its last append: genuine order-conflict and stale classes whose
    violation status depends on the real interval overlaps.

    Output: (key, kind 'put'|'append'|'get', val string, inv, ret, opid)
    — ``append_linearizability_audit``'s input contract."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    dur = _LIN_DUR_BASE + hash64(
        F.col("event_id").cast("string"), salt="aplz-dur"
    ) % _LIN_DUR_MOD
    kind = (
        F.when(F.col("event_type") == "signup", "put")
        .when(F.col("event_type") == "purchase", "append")
        .otherwise("get")
    )
    base = ev.select(
        F.col("user_id").alias("key"),
        kind.alias("kind"),
        F.col("event_id").alias("opid"),
        F.unix_micros("ts").alias("inv"),
        (F.unix_micros("ts") + dur).alias("ret"),
    )
    # total per-key order: mutations before reads at equal invoke (the
    # "<=" replay convention B51 documents), puts opening segments
    kr = F.when(F.col("kind") == "get", 1).otherwise(0)
    w_cur = (
        Window.partitionBy("key")
        .orderBy("inv", kr, "opid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = base.withColumn(
        "seg",
        F.sum(F.when(F.col("kind") == "put", 1).otherwise(0)).over(w_cur),
    )
    w_seg_all = Window.partitionBy("key", "seg")
    w_seg_cur = (
        Window.partitionBy("key", "seg")
        .orderBy("inv", kr, "opid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pid = F.coalesce(
        F.max(F.when(F.col("kind") == "put", F.col("opid"))).over(w_seg_all),
        F.lit(-1),
    )
    apps = F.collect_list(
        F.when(F.col("kind") == "append", F.col("opid"))
    ).over(w_seg_cur)
    st = staged.select(
        "key", "kind", "opid", "inv", "ret",
        pid.alias("pid"), apps.alias("apps"),
    )
    n = F.size("apps")
    sw = (
        hash64(F.col("opid").cast("string"), salt="aplz-sw")
        % _APLIN_SWAP_EVERY
        == 0
    )
    dr = (
        hash64(F.col("opid").cast("string"), salt="aplz-dr")
        % _APLIN_DROP_EVERY
        == 0
    )
    obs_apps = (
        F.when(
            (F.col("kind") == "get") & sw & (n >= 2),
            F.concat(
                F.slice("apps", 1, F.greatest(n - 2, F.lit(0))),
                F.array(F.get("apps", n - 1)),
                F.array(F.get("apps", n - 2)),
            ),
        )
        .when(
            (F.col("kind") == "get") & dr & (n >= 1),
            F.slice("apps", 1, F.greatest(n - 1, F.lit(0))),
        )
        .otherwise(F.col("apps"))
    )
    val = F.when(
        F.col("kind") != "get", F.col("opid").cast("string")
    ).otherwise(
        F.array_join(
            F.concat(
                F.array(F.col("pid").cast("string")),
                F.transform(obs_apps, lambda a: a.cast("string")),
            ),
            "|",
        )
    )
    return st.select("key", "kind", val.alias("val"), "inv", "ret", "opid")


def append_linearizability_audit(history: DataFrame) -> DataFrame:
    """Per-key linearizability audit of a concurrent Put/Append/Get
    history over concatenation-valued registers (KvModel, kv.go:40).

    ``history``: (key, kind 'put'|'append'|'get', val string, inv, ret,
    opid) with inv <= ret and globally-unique opids.  A read's val is the
    observed state '<pid>|<a1>|<a2>|...' (pid = the epoch-opening put's
    opid or -1 for the initial state; a_i = append opids in observed
    order); mutations carry their own opid as val.  Emits one row per key
    with op counts, per-rule violation counts, and the verdict.

    Rule set (complete for unique-payload appends; differentially
    verified against a brute-force all-linearizations KvModel search on
    seeded random histories, tests/test_kv.py): because payloads are
    unique, every state string occurs at most once in any linearization,
    so states form VALUE CLUSTERS (producing mutation + its readers)
    chained inside PUT EPOCHS (prefix order), and epochs serialize as
    contiguous super-blocks (once the next put runs, no earlier epoch's
    state can recur).  An append observed by no read is a FREE singleton
    block — placeable between any two epoch blocks (its effect dies at
    the next put), so it needs no epoch assignment.  Rules:

    - unknown: a read's pid is no put (and != -1), or an observed append
      opid is no append — per read.
    - conflict: an append observed at two distinct (epoch, position)
      cells, or one cell observed with two distinct appends (observed
      prefixes must form one chain) — counts conflicting apps + cells.
    - future: a read returns before its own cluster's producer invokes.
    - chain: within an epoch the fixed prefix order is contradicted by
      real time (cluster at depth d has min-ret < some earlier-depth
      cluster's max-inv) — one prefix-max window per epoch.
    - cross: two blocks (epoch super-blocks, merged [min-ret, max-inv]
      over their clusters; free appends as singletons; the initial
      epoch pinned first via x = XMIN) mutually precede each other —
      B51's write_order_cycle machinery verbatim (any precedence cycle
      in an interval-threshold relation implies a crossing pair),
      detected without pair expansion via the lex-orientation windows.

    Scale shape: everything is per-key (porcupine's decomposition);
    read parsing is row-local; matching is two equi-joins (constituent
    appends, epoch puts); conflicts/clusters are groupBys on observation
    cells (bounded by observed positions, not op pairs); chain and cross
    are windows over cluster- and block-count-sized relations.  A hot
    key costs what porcupine's per-key check would — never a cross-key
    product, never an op-pair expansion."""
    toks = F.split(F.col("val"), "[|]")
    reads0 = history.where(F.col("kind") == "get").select(
        "key",
        F.col("opid").alias("ropid"),
        "inv",
        "ret",
        F.element_at(toks, 1).cast("long").alias("pid"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        .cast("array<long>")
        .alias("apps"),
    )
    puts = history.where(F.col("kind") == "put").select(
        "key",
        F.col("opid").alias("pid"),
        F.col("inv").alias("p_inv"),
        F.col("ret").alias("p_ret"),
    )
    appends = (
        history.where(F.col("kind") == "append")
        .select("key", "opid", "inv", "ret")
        .localCheckpoint(eager=False)
    )
    # rule: unknown — any constituent token without a matching mutation
    cons = reads0.select(
        "key", "ropid", F.posexplode_outer("apps").alias("pos", "app")
    )
    amiss = (
        cons.join(
            appends.select(
                "key", F.col("opid").alias("app"), F.lit(1).alias("ok_a")
            ),
            ["key", "app"],
            "left",
        )
        .groupBy("key", "ropid")
        .agg(
            F.max(
                F.when(
                    F.col("pos").isNotNull() & F.col("ok_a").isNull(), 1
                ).otherwise(0)
            ).alias("app_miss")
        )
    )
    reads = (
        reads0.join(
            puts.select("key", "pid", F.lit(1).alias("ok_p")),
            ["key", "pid"],
            "left",
        )
        .join(amiss, ["key", "ropid"], "left")
        .withColumn(
            "unknown",
            F.col("pid").isNull()
            | ((F.col("pid") != -1) & F.col("ok_p").isNull())
            | (F.coalesce("app_miss", F.lit(0)) == 1),
        )
        .localCheckpoint(eager=False)
    )
    okr = reads.where(~F.col("unknown")).select(
        "key", "ropid", "inv", "ret", "pid", "apps",
        F.size("apps").alias("depth"),
    )
    # observation cells (epoch, position, append) from valid reads only
    obs = (
        okr.select("key", "pid", F.posexplode("apps").alias("pos", "app"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # rule: conflict — observed prefixes must form one chain per epoch
    conf_app = (
        obs.groupBy("key", "app")
        .agg(F.countDistinct(F.struct("pid", "pos")).alias("c"))
        .where(F.col("c") > 1)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_conf_app"))
    )
    conf_cell = (
        obs.groupBy("key", "pid", "pos")
        .agg(F.countDistinct("app").alias("c"))
        .where(F.col("c") > 1)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_conf_cell"))
    )
    # value clusters: producer mutation (min app pins the conflict case
    # deterministically) + reader intervals; the virtual initial cluster
    # carries XMIN (the initial state precedes all time)
    cl_obs = (
        obs.groupBy("key", "pid", "pos")
        .agg(F.min("app").alias("producer"))
        .select("key", "pid", (F.col("pos") + 1).alias("depth"), "producer")
        .join(
            appends.select(
                "key",
                F.col("opid").alias("producer"),
                F.col("inv").alias("pr_inv"),
                F.col("ret").alias("pr_ret"),
            ),
            ["key", "producer"],
        )
        .select("key", "pid", "depth", "pr_inv", "pr_ret")
    )
    cl_put = puts.select(
        "key",
        "pid",
        F.lit(0).alias("depth"),
        F.col("p_inv").alias("pr_inv"),
        F.col("p_ret").alias("pr_ret"),
    )
    cl_init = (
        okr.where(F.col("pid") == -1)
        .select("key")
        .distinct()
        .select(
            "key",
            F.lit(-1).cast("long").alias("pid"),
            F.lit(0).alias("depth"),
            F.lit(_LIN_XMIN).alias("pr_inv"),
            F.lit(_LIN_XMIN).alias("pr_ret"),
        )
    )
    cl0 = (
        cl_obs.unionByName(cl_put)
        .unionByName(cl_init)
        .localCheckpoint(eager=False)
    )
    cl_stats = (
        cl0.select(
            "key", "pid", "depth",
            F.col("pr_ret").alias("r"), F.col("pr_inv").alias("i"),
        )
        .unionByName(
            okr.select(
                "key", "pid", "depth",
                F.col("ret").alias("r"), F.col("inv").alias("i"),
            )
        )
        .groupBy("key", "pid", "depth")
        .agg(F.min("r").alias("x"), F.max("i").alias("y"))
        .localCheckpoint(eager=False)
    )
    # rule: future — per read, against its own cluster's producer
    fut = (
        okr.join(cl0.select("key", "pid", "depth", "pr_inv"),
                 ["key", "pid", "depth"])
        .groupBy("key")
        .agg(
            F.sum(
                F.when(F.col("ret") < F.col("pr_inv"), 1).otherwise(0)
            ).alias("n_future")
        )
    )
    # rule: chain — prefix-max of y over earlier depths vs this x
    w_chain = (
        Window.partitionBy("key", "pid")
        .orderBy("depth")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chain = (
        cl_stats.withColumn("pm", F.max("y").over(w_chain))
        .groupBy("key")
        .agg(
            F.sum(
                F.when(F.col("x") < F.col("pm"), 1).otherwise(0)
            ).alias("n_chain")
        )
    )
    # blocks: epoch super-blocks + free (unobserved) appends
    ep = (
        cl_stats.groupBy("key", "pid")
        .agg(F.min("x").alias("x0"), F.max("y").alias("y"))
        .select(
            "key",
            F.col("pid").alias("blkid"),
            F.when(F.col("pid") == -1, F.lit(_LIN_XMIN))
            .otherwise(F.col("x0"))
            .alias("x"),
            "y",
        )
    )
    free = (
        appends.join(
            obs.select("key", F.col("app").alias("opid")).distinct(),
            ["key", "opid"],
            "left_anti",
        )
        .select(
            "key",
            F.col("opid").alias("blkid"),
            F.col("ret").alias("x"),
            F.col("inv").alias("y"),
        )
    )
    blocks = ep.unionByName(free).localCheckpoint(eager=False)
    # rule: cross — the shared lex-orientation crossing detector
    # (cluster_crossings; backward blocks via prefix-max, normal blocks
    # via the interleave probe — the B51 family derivation)
    cross = (
        cluster_crossings(blocks, id_col="blkid")
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("crossed"), 1).otherwise(0)).alias("n_cross")
        )
    )
    ops = history.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("kind") == "put", 1).otherwise(0)).alias("n_puts"),
        F.sum(F.when(F.col("kind") == "append", 1).otherwise(0)).alias(
            "n_appends"
        ),
        F.sum(F.when(F.col("kind") == "get", 1).otherwise(0)).alias("n_gets"),
    )
    unk = reads.groupBy("key").agg(
        F.sum(F.when(F.col("unknown"), 1).otherwise(0)).alias("n_unknown")
    )
    out = (
        ops.join(unk, "key", "left")
        .join(conf_app, "key", "left")
        .join(conf_cell, "key", "left")
        .join(fut, "key", "left")
        .join(chain, "key", "left")
        .join(cross, "key", "left")
        .select(
            "key",
            "n_ops",
            "n_puts",
            "n_appends",
            "n_gets",
            F.coalesce("n_unknown", F.lit(0)).alias("n_unknown"),
            (
                F.coalesce("n_conf_app", F.lit(0))
                + F.coalesce("n_conf_cell", F.lit(0))
            ).alias("n_conflict"),
            F.coalesce("n_future", F.lit(0)).alias("n_future"),
            F.coalesce("n_chain", F.lit(0)).alias("n_chain"),
            F.coalesce("n_cross", F.lit(0)).alias("n_cross"),
        )
    )
    return out.withColumn(
        "linearizable",
        (
            F.col("n_unknown")
            + F.col("n_conflict")
            + F.col("n_future")
            + F.col("n_chain")
            + F.col("n_cross")
        )
        == 0,
    )


_APLZ_H_DUR = sql_hash64("'aplz-dur' || CAST(event_id AS VARCHAR)")
_APLZ_H_SW = sql_hash64("'aplz-sw' || CAST(opid AS VARCHAR)")
_APLZ_H_DR = sql_hash64("'aplz-dr' || CAST(opid AS VARCHAR)")

_APLZ_HISTORY_SQL = f"""
    raw AS (
        SELECT user_id AS key,
               CASE WHEN event_type = 'signup' THEN 'put'
                    WHEN event_type = 'purchase' THEN 'append'
                    ELSE 'get' END AS kind,
               event_id AS opid,
               CAST(epoch_us(ts) AS BIGINT) AS inv,
               CAST(epoch_us(ts) AS BIGINT) + {_LIN_DUR_BASE}
                   + ({_APLZ_H_DUR} % {_LIN_DUR_MOD}) AS ret
        FROM events
    ),
    seg0 AS (
        SELECT *,
               SUM(CASE WHEN kind = 'put' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key
                         ORDER BY inv, CASE WHEN kind = 'get' THEN 1 ELSE 0 END,
                                  opid
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS seg
        FROM raw
    ),
    std AS (
        SELECT key, kind, opid, inv, ret,
               COALESCE(MAX(CASE WHEN kind = 'put' THEN opid END)
                   OVER (PARTITION BY key, seg), -1) AS pid,
               list_filter(
                   list(CASE WHEN kind = 'append' THEN opid END) OVER w,
                   a -> a IS NOT NULL) AS apps
        FROM seg0
        WINDOW w AS (PARTITION BY key, seg
                     ORDER BY inv, CASE WHEN kind = 'get' THEN 1 ELSE 0 END,
                              opid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    inj AS (
        SELECT key, kind, opid, inv, ret, pid,
               CASE WHEN kind = 'get' AND ({_APLZ_H_SW} % {_APLIN_SWAP_EVERY}) = 0
                         AND len(apps) >= 2
                    THEN apps[1:len(apps)-2]
                         || [apps[len(apps)]] || [apps[len(apps)-1]]
                    WHEN kind = 'get' AND ({_APLZ_H_DR} % {_APLIN_DROP_EVERY}) = 0
                         AND len(apps) >= 1
                    THEN apps[1:len(apps)-1]
                    ELSE apps END AS apps
        FROM std
    ),
    hist AS (
        SELECT key, kind, opid, inv, ret,
               CASE WHEN kind = 'get'
                    THEN array_to_string(
                        list_prepend(CAST(pid AS VARCHAR),
                            list_transform(apps, a -> CAST(a AS VARCHAR))),
                        '|')
                    ELSE CAST(opid AS VARCHAR) END AS val
        FROM inj
    )
"""


@register(
    "kv_append_linearizability",
    oracle=f"""
    WITH {_APLZ_HISTORY_SQL},
    puts AS (SELECT key, opid, inv, ret FROM hist WHERE kind = 'put'),
    apps AS (SELECT key, opid, inv, ret FROM hist WHERE kind = 'append'),
    rd AS (
        SELECT key, opid, inv, ret,
               TRY_CAST(string_split(val, '|')[1] AS BIGINT) AS pid,
               list_transform(string_split(val, '|')[2:],
                              s -> TRY_CAST(s AS BIGINT)) AS alist
        FROM hist WHERE kind = 'get'
    ),
    rdu AS (
        SELECT r.*,
               (r.pid IS NULL
                OR (r.pid <> -1 AND NOT EXISTS (
                        SELECT 1 FROM puts p
                        WHERE p.key = r.key AND p.opid = r.pid))
                OR EXISTS (
                        SELECT 1 FROM UNNEST(r.alist) t(a)
                        WHERE a IS NULL OR NOT EXISTS (
                            SELECT 1 FROM apps x
                            WHERE x.key = r.key AND x.opid = a)))
                   AS unknown
        FROM rd r
    ),
    obs AS (
        SELECT DISTINCT r.key, r.pid, i AS pos, r.alist[i + 1] AS app
        FROM rdu r, UNNEST(range(0, len(r.alist))) t(i)
        WHERE NOT r.unknown
    ),
    confa AS (
        SELECT key, CAST(count(*) AS BIGINT) AS n_conf_app FROM (
            SELECT DISTINCT key, app FROM obs o
            WHERE EXISTS (
                SELECT 1 FROM obs o2
                WHERE o2.key = o.key AND o2.app = o.app
                  AND (o2.pid <> o.pid OR o2.pos <> o.pos))
        ) GROUP BY key
    ),
    confc AS (
        SELECT key, CAST(count(*) AS BIGINT) AS n_conf_cell FROM (
            SELECT DISTINCT key, pid, pos FROM obs o
            WHERE EXISTS (
                SELECT 1 FROM obs o2
                WHERE o2.key = o.key AND o2.pid = o.pid AND o2.pos = o.pos
                  AND o2.app <> o.app)
        ) GROUP BY key
    ),
    clobs AS (
        SELECT key, pid, pos + 1 AS depth, MIN(app) AS producer
        FROM obs GROUP BY key, pid, pos
    ),
    cl0 AS (
        SELECT c.key, c.pid, c.depth, a.inv AS pr_inv, a.ret AS pr_ret
        FROM clobs c JOIN apps a ON a.key = c.key AND a.opid = c.producer
        UNION ALL
        SELECT key, opid AS pid, 0 AS depth, inv, ret FROM puts
        UNION ALL
        SELECT DISTINCT key, CAST(-1 AS BIGINT), 0,
               CAST({_LIN_XMIN} AS BIGINT), CAST({_LIN_XMIN} AS BIGINT)
        FROM rdu WHERE NOT unknown AND pid = -1
    ),
    clst AS (
        SELECT key, pid, depth, MIN(r) AS x, MAX(i) AS y FROM (
            SELECT key, pid, depth, pr_ret AS r, pr_inv AS i FROM cl0
            UNION ALL
            SELECT key, pid, len(alist) AS depth, ret AS r, inv AS i
            FROM rdu WHERE NOT unknown
        ) GROUP BY key, pid, depth
    ),
    fut AS (
        SELECT r.key,
               CAST(SUM(CASE WHEN r.ret < c.pr_inv THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_future
        FROM rdu r
        JOIN cl0 c ON c.key = r.key AND c.pid = r.pid
                  AND c.depth = len(r.alist)
        WHERE NOT r.unknown
        GROUP BY r.key
    ),
    chn AS (
        SELECT key, CAST(count(*) AS BIGINT) AS n_chain
        FROM clst c
        WHERE EXISTS (
            SELECT 1 FROM clst c2
            WHERE c2.key = c.key AND c2.pid = c.pid
              AND c2.depth < c.depth AND c.x < c2.y)
        GROUP BY key
    ),
    ep AS (
        SELECT key, pid AS blkid,
               CASE WHEN pid = -1 THEN CAST({_LIN_XMIN} AS BIGINT)
                    ELSE MIN(x) END AS x,
               MAX(y) AS y
        FROM clst GROUP BY key, pid
    ),
    fr AS (
        SELECT a.key, a.opid AS blkid, a.ret AS x, a.inv AS y
        FROM apps a
        WHERE NOT EXISTS (
            SELECT 1 FROM obs o WHERE o.key = a.key AND o.app = a.opid)
    ),
    blk AS (SELECT * FROM ep UNION ALL SELECT * FROM fr),
    crs AS (
        SELECT a.key, CAST(count(*) AS BIGINT) AS n_cross
        FROM blk a
        WHERE EXISTS (
            SELECT 1 FROM blk b
            WHERE b.key = a.key
              AND (b.x < a.x OR (b.x = a.x AND b.blkid < a.blkid))
              AND b.x < a.y AND a.x < b.y)
        GROUP BY a.key
    ),
    ragg AS (
        SELECT key,
               CAST(SUM(CASE WHEN unknown THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unknown
        FROM rdu GROUP BY key
    ),
    oagg AS (
        SELECT key,
               CAST(count(*) AS BIGINT) AS n_ops,
               CAST(SUM(CASE WHEN kind = 'put' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_puts,
               CAST(SUM(CASE WHEN kind = 'append' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_appends,
               CAST(SUM(CASE WHEN kind = 'get' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gets
        FROM hist GROUP BY key
    )
    SELECT key, n_ops, n_puts, n_appends, n_gets,
           COALESCE(n_unknown, 0) AS n_unknown,
           (COALESCE(n_conf_app, 0) + COALESCE(n_conf_cell, 0)) AS n_conflict,
           COALESCE(n_future, 0) AS n_future,
           COALESCE(n_chain, 0) AS n_chain,
           COALESCE(n_cross, 0) AS n_cross,
           (COALESCE(n_unknown, 0) + COALESCE(n_conf_app, 0)
            + COALESCE(n_conf_cell, 0) + COALESCE(n_future, 0)
            + COALESCE(n_chain, 0) + COALESCE(n_cross, 0)) = 0
               AS linearizable
    FROM oagg
    LEFT JOIN ragg USING (key)
    LEFT JOIN confa USING (key)
    LEFT JOIN confc USING (key)
    LEFT JOIN fut USING (key)
    LEFT JOIN chn USING (key)
    LEFT JOIN crs USING (key)
    """,
)
def kv_append_linearizability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linearizability verdicts over a derived concurrent
    Put/Append/Get history — the reference KvModel's FULL op set
    (src/models/kv.go:17, Step at kv.go:40: Get must equal state, Put
    replaces, Append concatenates), the one reference semantic B51's
    register audit left uncovered.  See ``append_linearizability_audit``
    for the rule set (clusters -> epoch chains -> super-block crossing)
    and scale shape; the swap (1/23) and drop-last (1/17) injections make
    the output a genuine mix of conflict / chain / cross verdicts.

    The DuckDB oracle replays the identical derivation, then states each
    rule as its literal quadratic EXISTS (the per-epoch chain
    contradiction and the block crossing spelled out over pairs) — a
    green hash certifies the windowed no-pair-expansion formulation
    against the textbook definition."""
    return append_linearizability_audit(
        derive_kv_append_history(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# B63. raft_election_safety — Election Safety trace audit
# (raft/config.go:432 checkOneLeader: "term %d has %d (>1) leaders" — at
# most one leader per term; a candidate leads a term iff a MAJORITY of
# distinct peers granted it their vote, and the property can only break
# when some voter grants two candidates in one term)

_RAFT_PEERS = 5  # the labs' cluster size; majority = 3
_RFE_TERMS = 40
_RFE_DENY_EVERY = 13  # 1/13 vote RPCs are denied (granted = false)
_RFE_DEV_EVERY = 9  # 1/9 (term, voter) CELLS vote for the second candidate
_RFE_DBL_EVERY = 11  # 1/11 (term, voter) CELLS double-vote (both candidates)
_RFE_HOT_EVERY = 8  # 1/8 of TERMS are contested: dev 1/3, dbl 1/2 of cells


def audit_election_votes(votes: DataFrame, n_peers: int = _RAFT_PEERS) -> DataFrame:
    """Election-safety audit over a vote-grant trace.

    ``votes``: (term, voter, candidate, granted) records (duplicates =
    RPC retries, benign).  A voter double-votes when it GRANTS two
    distinct candidates in one term — the only way two leaders can both
    assemble a majority (ceil((n+1)/2) distinct granted voters).  Emits
    one row per term with vote/voter counts, double-voter count, leader
    count, and the checkOneLeader verdict.

    Scale shape: the vote trace is derived once (localCheckpoint — the
    three consumers below would otherwise each re-scan the source); all
    aggregates key on (term, voter) or (term, candidate) — bounded by
    terms x peers, with map-side partials collapsing retry duplicates;
    no fact-sized joins, no windows."""
    majority = n_peers // 2 + 1
    votes = votes.localCheckpoint(eager=False)
    g = votes.where(F.col("granted"))
    base = votes.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.countDistinct(F.when(F.col("granted"), F.col("voter"))).alias(
            "n_voters"
        ),
    )
    dbl = (
        g.groupBy("term", "voter")
        .agg(F.countDistinct("candidate").alias("c"))
        .where(F.col("c") > 1)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_double_voters"))
    )
    lead = (
        g.groupBy("term", "candidate")
        .agg(F.countDistinct("voter").alias("nv"))
        .where(F.col("nv") >= majority)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_leaders"))
    )
    return (
        base.join(dbl, "term", "left")
        .join(lead, "term", "left")
        .select(
            "term",
            "n_votes",
            "n_voters",
            F.coalesce("n_double_voters", F.lit(0)).alias("n_double_voters"),
            F.coalesce("n_leaders", F.lit(0)).alias("n_leaders"),
            (F.coalesce("n_leaders", F.lit(0)) <= 1).alias("election_safe"),
        )
    )


def derive_raft_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vote-grant trace from events: each event is one
    RequestVote RPC outcome.  Each term has a hash-chosen default
    candidate c0 and challenger c1; the vote choice is decided per
    (term, voter) CELL — 1/9 of cells consistently vote c1 (split
    votes), 1/11 DOUBLE-VOTE (their RPCs alternate between c0 and c1,
    the bug that lets two candidates both assemble a majority) — so the
    violation rate is a property of the bounded cell grid, not of event
    volume, and the verdict mix is scale-stable; 1/13 of RPCs are
    denied.  Everything is md5-derived, bit-identical in both engines."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id").cast("string")
    term = hash64(eid, salt="rfe-t") % _RFE_TERMS
    voter = hash64(eid, salt="rfe-v") % _RAFT_PEERS
    cell = F.concat(term.cast("string"), F.lit("/"), voter.cast("string"))
    c0 = hash64(term.cast("string"), salt="rfe-c") % _RAFT_PEERS
    c1 = (
        c0
        + 1
        + hash64(term.cast("string"), salt="rfe-e") % (_RAFT_PEERS - 1)
    ) % _RAFT_PEERS
    # contested terms (1/8) see real split elections: a third of their
    # cells back the challenger and half double-vote, so two-majority
    # terms genuinely occur; quiet terms keep the background rates
    hot = hash64(term.cast("string"), salt="rfe-x") % _RFE_HOT_EVERY == 0
    h_dev = hash64(cell, salt="rfe-d")
    h_dbl = hash64(cell, salt="rfe-b")
    dev = F.when(hot, h_dev % 3 == 0).otherwise(h_dev % _RFE_DEV_EVERY == 0)
    dbl = F.when(hot, h_dbl % 2 == 0).otherwise(h_dbl % _RFE_DBL_EVERY == 0)
    flip = hash64(eid, salt="rfe-f") % 2 == 0
    cand = F.when(dbl & flip, c1).when(dbl, c0).when(dev, c1).otherwise(c0)
    return ev.select(
        term.alias("term"),
        voter.alias("voter"),
        cand.alias("candidate"),
        (hash64(eid, salt="rfe-g") % _RFE_DENY_EVERY != 0).alias("granted"),
    )


_RFE_T = sql_hash64("'rfe-t' || CAST(event_id AS VARCHAR)")
_RFE_V = sql_hash64("'rfe-v' || CAST(event_id AS VARCHAR)")
_RFE_G = sql_hash64("'rfe-g' || CAST(event_id AS VARCHAR)")
_RFE_F = sql_hash64("'rfe-f' || CAST(event_id AS VARCHAR)")
_RFE_C0 = sql_hash64("'rfe-c' || CAST(term AS VARCHAR)")
_RFE_C1 = sql_hash64("'rfe-e' || CAST(term AS VARCHAR)")
_RFE_CELL = "CAST(term AS VARCHAR) || '/' || CAST(voter AS VARCHAR)"
_RFE_DEV = sql_hash64(f"'rfe-d' || {_RFE_CELL}")
_RFE_DBL = sql_hash64(f"'rfe-b' || {_RFE_CELL}")
_RFE_HOT = sql_hash64("'rfe-x' || CAST(term AS VARCHAR)")


@register(
    "raft_election_safety",
    oracle=f"""
    WITH votes0 AS (
        SELECT ({_RFE_T} % {_RFE_TERMS}) AS term,
               ({_RFE_V} % {_RAFT_PEERS}) AS voter,
               ({_RFE_G} % {_RFE_DENY_EVERY}) <> 0 AS granted,
               ({_RFE_F} % 2) = 0 AS flip
        FROM events
    ),
    votes1 AS (
        SELECT *,
               ({_RFE_C0} % {_RAFT_PEERS}) AS c0,
               (({_RFE_C0} % {_RAFT_PEERS}) + 1
                + ({_RFE_C1} % {_RAFT_PEERS - 1})) % {_RAFT_PEERS} AS c1,
               CASE WHEN ({_RFE_HOT} % {_RFE_HOT_EVERY}) = 0
                    THEN ({_RFE_DEV} % 3) = 0
                    ELSE ({_RFE_DEV} % {_RFE_DEV_EVERY}) = 0 END AS dev,
               CASE WHEN ({_RFE_HOT} % {_RFE_HOT_EVERY}) = 0
                    THEN ({_RFE_DBL} % 2) = 0
                    ELSE ({_RFE_DBL} % {_RFE_DBL_EVERY}) = 0 END AS dbl
        FROM votes0
    ),
    votes AS (
        SELECT term, voter, granted,
               CASE WHEN dbl AND flip THEN c1
                    WHEN dbl THEN c0
                    WHEN dev THEN c1
                    ELSE c0 END AS candidate
        FROM votes1
    ),
    base AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS n_votes,
               CAST(count(DISTINCT CASE WHEN granted THEN voter END)
                    AS BIGINT) AS n_voters
        FROM votes GROUP BY term
    ),
    dbl AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_double_voters FROM (
            SELECT term, voter FROM votes WHERE granted
            GROUP BY term, voter HAVING count(DISTINCT candidate) > 1
        ) GROUP BY term
    ),
    lead AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_leaders FROM (
            SELECT term, candidate FROM votes WHERE granted
            GROUP BY term, candidate
            HAVING count(DISTINCT voter) >= {_RAFT_PEERS // 2 + 1}
        ) GROUP BY term
    )
    SELECT term, n_votes, n_voters,
           COALESCE(n_double_voters, 0) AS n_double_voters,
           COALESCE(n_leaders, 0) AS n_leaders,
           COALESCE(n_leaders, 0) <= 1 AS election_safe
    FROM base LEFT JOIN dbl USING (term) LEFT JOIN lead USING (term)
    """,
)
def raft_election_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Election Safety trace audit — checkOneLeader
    (/root/reference/src/raft/config.go:432, the "term %d has %d (>1)
    leaders" fatal) as an analytics query over a derived vote-grant
    trace.  See ``audit_election_votes`` for the rules and scale shape;
    the per-(term, voter) split/double-vote cells make double-voters
    common and genuine two-leader terms occasional, so the verdict
    column is a real mix at every scale factor."""
    return audit_election_votes(derive_raft_votes(spark, sf_dir))


# ---------------------------------------------------------------------------
# B64. raft_log_matching — Log Matching / apply-consistency trace audit
# (raft/config.go:140 checkLogs: a server committing a different value at
# an index some other server already committed is the fatal
# "commit index=%v ... %v != %v"; the applier at config.go:167 also
# flags "apply out of order" when an index lands without its
# predecessor)

_RFL_IDXS = 300
_RFL_CORRUPT_EVERY = 37  # 1/37 (server, idx) cells apply a corrupted value
_RFL_SKIP_EVERY = 5  # 1/5 (server, idx) cells never apply (forced gaps)


def audit_apply_log(records: DataFrame) -> DataFrame:
    """Log-matching audit over an apply trace: (server, idx, value)
    records of committed entries (duplicates = replays, benign).

    Rules (checkLogs, config.go:140): every committed index must carry
    ONE value across all servers (and across replays on one server);
    an index applied by a server whose predecessor index that server
    never applied is an out-of-order apply (the prevok check).  Emits
    one row per index.

    Scale shape: ONE distinct on (server, idx, value) — map-side
    partials collapse replays, and the deduped cell relation is
    localCheckpoint'ed so its two consumers (value rollup, gap window)
    do not re-scan the source; out-of-order = a LAG window per server
    over its distinct indexes (no self-join); the per-index rollup
    reuses bounded keys.  Nothing is ever op-pair expanded."""
    cells = (
        records.select("server", "idx", "value")
        .distinct()
        .localCheckpoint(eager=False)
    )
    per_si = cells.select("server", "idx").distinct()
    w = Window.partitionBy("server").orderBy("idx")
    gaps = per_si.withColumn("prev", F.lag("idx").over(w)).select(
        "server",
        "idx",
        (
            (F.col("idx") > 1)
            & (
                F.col("prev").isNull()
                | (F.col("prev") != F.col("idx") - 1)
            )
        ).alias("missing_prev"),
    )
    vals = cells.groupBy("idx").agg(
        F.countDistinct("server").alias("n_servers"),
        F.countDistinct("value").alias("n_values"),
    )
    g = gaps.groupBy("idx").agg(
        F.sum(F.when(F.col("missing_prev"), 1).otherwise(0)).alias(
            "n_missing_prev"
        )
    )
    return (
        vals.join(g, "idx")
        .select(
            "idx",
            "n_servers",
            "n_values",
            (F.col("n_values") > 1).alias("value_conflict"),
            "n_missing_prev",
            (
                (F.col("n_values") <= 1) & (F.col("n_missing_prev") == 0)
            ).alias("matching_ok"),
        )
    )


def derive_raft_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic apply trace from events: each event is one ApplyMsg
    (server, idx, value).  The canonical value is a pure function of the
    index.  Divergence is decided per (server, idx) CELL, not per
    record: 1/5 of cells never apply (the server skipped that index —
    genuine out-of-order applies) and 1/37 apply a consistently
    CORRUPTED value (the committed-divergence bug checkLogs exists to
    catch) — so both violation rates are properties of the bounded cell
    grid and the verdict mix is scale-stable."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id").cast("string")
    server = hash64(eid, salt="rfl-p") % _RAFT_PEERS
    idx = 1 + hash64(eid, salt="rfl-i") % _RFL_IDXS
    cell = F.concat(server.cast("string"), F.lit("/"), idx.cast("string"))
    corrupt = hash64(cell, salt="rfl-c") % _RFL_CORRUPT_EVERY == 0
    value = F.when(corrupt, hash64(cell, salt="rfl-x")).otherwise(
        hash64(idx.cast("string"), salt="rfl-v")
    )
    return (
        ev.select(server.alias("server"), idx.alias("idx"), value.alias("value"))
        .where(
            hash64(
                F.concat(
                    F.col("server").cast("string"),
                    F.lit("/"),
                    F.col("idx").cast("string"),
                ),
                salt="rfl-a",
            )
            % _RFL_SKIP_EVERY
            != 0
        )
    )


_RFL_P = sql_hash64("'rfl-p' || CAST(event_id AS VARCHAR)")
_RFL_I = sql_hash64("'rfl-i' || CAST(event_id AS VARCHAR)")
_RFL_CELL = "CAST(server AS VARCHAR) || '/' || CAST(idx AS VARCHAR)"
_RFL_C = sql_hash64(f"'rfl-c' || {_RFL_CELL}")
_RFL_X = sql_hash64(f"'rfl-x' || {_RFL_CELL}")
_RFL_A = sql_hash64(f"'rfl-a' || {_RFL_CELL}")
_RFL_V = sql_hash64("'rfl-v' || CAST(idx AS VARCHAR)")


@register(
    "raft_log_matching",
    oracle=f"""
    WITH rec0 AS (
        SELECT ({_RFL_P} % {_RAFT_PEERS}) AS server,
               (1 + ({_RFL_I} % {_RFL_IDXS})) AS idx
        FROM events
    ),
    rec AS (
        SELECT server, idx,
               CASE WHEN ({_RFL_C} % {_RFL_CORRUPT_EVERY}) = 0
                    THEN {_RFL_X} ELSE {_RFL_V} END AS value
        FROM rec0
        WHERE ({_RFL_A} % {_RFL_SKIP_EVERY}) <> 0
    ),
    cells AS (SELECT DISTINCT server, idx, value FROM rec),
    per_si AS (SELECT DISTINCT server, idx FROM cells),
    gaps AS (
        SELECT s.idx,
               CAST(SUM(CASE WHEN s.idx > 1 AND NOT EXISTS (
                   SELECT 1 FROM per_si p
                   WHERE p.server = s.server AND p.idx = s.idx - 1)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_prev
        FROM per_si s GROUP BY s.idx
    ),
    vals AS (
        SELECT idx,
               CAST(count(DISTINCT server) AS BIGINT) AS n_servers,
               CAST(count(DISTINCT value) AS BIGINT) AS n_values
        FROM cells GROUP BY idx
    )
    SELECT idx, n_servers, n_values,
           n_values > 1 AS value_conflict,
           n_missing_prev,
           (n_values <= 1 AND n_missing_prev = 0) AS matching_ok
    FROM vals JOIN gaps USING (idx)
    """,
)
def raft_log_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log Matching / apply-consistency trace audit — checkLogs
    (/root/reference/src/raft/config.go:140, committed-value divergence)
    plus the applier's out-of-order check (config.go:167) as an
    analytics query over a derived ApplyMsg trace.  See
    ``audit_apply_log`` for rules and scale shape; the DuckDB oracle
    states the predecessor rule as its literal NOT EXISTS, so the green
    hash certifies the LAG-window rewrite."""
    return audit_apply_log(derive_raft_apply_log(spark, sf_dir))


# ---------------------------------------------------------------------------
# B67. raft_leader_completeness — Leader Completeness trace audit
# (Raft §5.4.3, enforced by the labs' election restriction at
# raft/raft.go RequestVote up-to-date check and observed by config.go's
# one()/nCommitted agreement checks: an entry committed in term T must
# be present in the log of the leader of every term > T)

_RLC_TERMS = 30
_RLC_IDXS = 200
_RLC_ADV_MAX = 8  # commit index advances 0..7 entries per term
_RLC_MISS_EVERY = 53  # 1/53 (term, idx) leader-log cells are missing


def audit_leader_completeness(obs: DataFrame, commits: DataFrame) -> DataFrame:
    """Leader-Completeness audit over a leader-log observation trace.

    ``obs``: (term, idx, present) records — "the leader elected for
    ``term`` does/does not hold log entry ``idx``" (duplicates = probe
    retries, benign).  ``commits``: (idx, commit_term) — the term each
    entry was committed in.  The property (Raft §5.4.3): for every
    committed entry, EVERY later-term leader's log must contain it —
    a later-term leader missing a committed entry would rewrite agreed
    history when it replicates.  Emits one row per committed entry that
    has at least one later-term observation.

    Scale shape: ONE distinct on (term, idx, present) with map-side
    partials collapsing retries; ``commits`` is bounded by the entry
    universe and broadcast, so the fact-sized side never shuffles on a
    skewed key; the rollup keys on (idx, commit_term) — bounded by the
    entry grid.  No windows over fact data, no pair expansion."""
    cells = obs.select("term", "idx", "present").distinct()
    miss = F.countDistinct(F.when(~F.col("present"), F.col("term")))
    return (
        cells.join(F.broadcast(commits), "idx")
        .where(F.col("term") > F.col("commit_term"))
        .groupBy("idx", "commit_term")
        .agg(
            F.countDistinct("term").alias("n_later_terms"),
            miss.alias("n_missing"),
        )
        .withColumn("leader_complete", F.col("n_missing") == 0)
    )


def derive_raft_leader_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leader-log observation trace from events: each
    event is one probe of one (term, idx) cell — "does term t's elected
    leader hold entry idx?".  Presence is decided per CELL (md5 of
    "term/idx"): 1/_RLC_MISS_EVERY of cells are missing, modelling a
    leader elected without the up-to-date restriction — so the verdict
    mix is a property of the bounded cell grid and stays scale-stable
    (the B63/B64 lesson: never inject per-event).  Retried probes of a
    cell always agree; distinct() collapses them."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id").cast("string")
    term = hash64(eid, salt="rlc-t") % _RLC_TERMS
    idx = hash64(eid, salt="rlc-i") % _RLC_IDXS + 1
    cell = F.concat(term.cast("string"), F.lit("/"), idx.cast("string"))
    return ev.select(
        term.alias("term"),
        idx.alias("idx"),
        (hash64(cell, salt="rlc-m") % _RLC_MISS_EVERY != 0).alias("present"),
    )


def derive_raft_commits(spark: SparkSession) -> DataFrame:
    """(idx, commit_term): per-term commit-index advance is md5-derived
    (0.._RLC_ADV_MAX-1 entries per term), the commit bound is its
    running sum over the BOUNDED term table, and each term commits the
    half-open advance interval — so commit_term(idx) is the unique term
    whose interval covers idx.  The single-partition window is over
    _RLC_TERMS rows, not fact data."""
    trms = spark.range(_RLC_TERMS).select(F.col("id").alias("term"))
    adv = hash64(F.col("term").cast("string"), salt="rlc-a") % _RLC_ADV_MAX
    w = Window.orderBy("term").rowsBetween(Window.unboundedPreceding, 0)
    bounds = (
        trms.select("term", adv.alias("adv"))
        .withColumn("hi", F.sum("adv").over(w))
        .withColumn("lo", F.col("hi") - F.col("adv") + 1)
        .where(F.col("adv") > 0)
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("idx"),
        F.col("term").alias("commit_term"),
    )


_RLC_T = sql_hash64("'rlc-t' || CAST(event_id AS VARCHAR)")
_RLC_I = sql_hash64("'rlc-i' || CAST(event_id AS VARCHAR)")
_RLC_CELL = "CAST(term AS VARCHAR) || '/' || CAST(idx AS VARCHAR)"
_RLC_M = sql_hash64(f"'rlc-m' || {_RLC_CELL}")
_RLC_A = sql_hash64("'rlc-a' || CAST(term AS VARCHAR)")


@register(
    "raft_leader_completeness",
    oracle=f"""
    WITH obs0 AS (
        SELECT ({_RLC_T} % {_RLC_TERMS}) AS term,
               (({_RLC_I} % {_RLC_IDXS}) + 1) AS idx
        FROM events
    ),
    obs AS (
        SELECT DISTINCT term, idx,
               ({_RLC_M} % {_RLC_MISS_EVERY}) <> 0 AS present
        FROM obs0
    ),
    trms AS (
        SELECT CAST(t AS BIGINT) AS term FROM (SELECT unnest(range({_RLC_TERMS})) AS t)
    ),
    bounds AS (
        SELECT term, adv, CAST(SUM(adv) OVER (ORDER BY term) AS BIGINT) AS hi
        FROM (SELECT term, ({_RLC_A} % {_RLC_ADV_MAX}) AS adv FROM trms)
    ),
    cmt AS (
        SELECT unnest(generate_series(hi - adv + 1, hi)) AS idx,
               term AS commit_term
        FROM bounds WHERE adv > 0
    )
    SELECT obs.idx, commit_term,
           CAST(count(DISTINCT obs.term) AS BIGINT) AS n_later_terms,
           CAST(count(DISTINCT CASE WHEN NOT present THEN obs.term END)
                AS BIGINT) AS n_missing,
           count(DISTINCT CASE WHEN NOT present THEN obs.term END) = 0
               AS leader_complete
    FROM obs JOIN cmt ON cmt.idx = obs.idx
    WHERE obs.term > commit_term
    GROUP BY obs.idx, commit_term
    """,
)
def raft_leader_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leader Completeness trace audit — Raft §5.4.3 (an entry
    committed in term T is present in the logs of the leaders of all
    terms > T; the reference enforces it via RequestVote's up-to-date
    restriction and its tests observe it through config.go's
    one()/nCommitted agreement loop) as an analytics query over a
    derived leader-log probe trace.  Completes the safety trio started
    by B63 (Election Safety) and B64 (Log Matching).  See
    ``audit_leader_completeness`` for rules and scale shape; presence
    is decided per (term, idx) cell so the violation mix is
    scale-stable, and the commit schedule is a running sum over the
    bounded term table (``derive_raft_commits``)."""
    return audit_leader_completeness(
        derive_raft_leader_logs(spark, sf_dir), derive_raft_commits(spark)
    )


# ---------------------------------------------------------------------------
# B68. raft_snapshot_audit — InstallSnapshot state-consistency trace audit

_SNAP_FOLLOWERS = 3  # followers reporting an installed snapshot per key
_SNAP_FAULT_EVERY = 31  # 1/31 (key, follower) cells report a corrupt state
_SNAP_H = (
    "'snap-' || CAST(key AS VARCHAR) || '-' || CAST(follower AS VARCHAR)"
)


@register(
    "raft_snapshot_audit",
    oracle=f"""
    WITH ops AS ({_OPS_SQL}),
    f AS (SELECT unnest(range({_SNAP_FOLLOWERS})) AS follower),
    cut0 AS (
        SELECT key, op, sval, seq, follower,
               max(seq) OVER (PARTITION BY key, follower)
                   * (follower + 1) // {_SNAP_FOLLOWERS + 1} AS cutoff
        FROM ops CROSS JOIN f
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN op = 'put' AND seq <= cutoff THEN seq ELSE 0 END)
                   OVER (PARTITION BY key, follower) AS lp
        FROM cut0
    ),
    expd AS (
        SELECT key, follower, any_value(cutoff) AS cutoff,
               coalesce(string_agg(CASE WHEN seq <= cutoff AND seq >= lp
                                        THEN sval END, ';' ORDER BY seq), '')
                   AS expected_value
        FROM cut GROUP BY key, follower
    ),
    rep AS (
        SELECT key, follower, cutoff, expected_value,
               CASE WHEN {sql_hash64(_SNAP_H)} % {_SNAP_FAULT_EVERY} = 0
                    THEN expected_value || ';666'
                    ELSE expected_value END AS reported_value
        FROM expd
    )
    SELECT key, CAST(follower AS BIGINT) AS follower,
           CAST(cutoff AS BIGINT) AS cutoff, reported_value,
           CASE WHEN reported_value <> expected_value
                THEN 'state_mismatch' ELSE 'ok' END AS verdict
    FROM rep
    """,
    tags=(LOG_MASS_LINEAR,),
)
def raft_snapshot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InstallSnapshot state-consistency audit (the lab 2D/3B snapshot
    contract): every follower that installed a snapshot at lastIncluded
    index must hold EXACTLY the state the committed log prefix replays
    to — the check the reference applier performs on every snapshot
    delivery (raft/config.go:223 CondInstallSnapshot guard; service
    snapshots exercised by TestSnapshotInstall2D, raft/test_test.go:1178,
    and kvraft lab 3B maxraftstate).  B16 proves snapshot+suffix == full
    replay for the compaction path; this audits the INSTALL path across
    followers, where a stale or corrupted snapshot silently forks a
    replica.

    Trace derivation (the audit-family trick): each key's op log is the
    raft group, {_SNAP_FOLLOWERS} followers snapshot at 1/4, 2/4, 3/4 of
    the log; 1 in {_SNAP_FAULT_EVERY} (key, follower) HASH CELLS — never
    per-event rates, the B63 scale-stability lesson — report a state
    with a trailing junk append.  The audit RECOMPUTES the prefix replay
    and compares (verdict = reported <> recomputed), so the green hash
    certifies the comparison logic, not the injection.

    Scale shape: ONE exchange — the log is aggregated per key into a
    sorted (seq, op, sval) array (kv logs are per-key bounded, the same
    state-machine-sized-state argument as B10/B16), and ALL follower
    logic (cutoff, last-put scan, prefix replay, corruption, verdict) is
    row-local array work inside codegen; no per-follower log replication
    through the shuffle, no second exchange.

    Cost law (LOG_MASS_LINEAR, VERDICT r8 item 2): wall tracks total
    per-key log mass x {_SNAP_FOLLOWERS}-follower fanout — sort is
    O(n log n) and each follower's cutoff/last-put/replay passes are
    O(n) over its key's log, with NO fixed-overhead floor to hide
    behind.  Inflating every key's log k-fold therefore measures ~k x
    wall BY DESIGN (SCALE_r08: 8.52x at 10x — replaying 10x more log
    costs 10x), unlike scan/agg plans whose 10x ratios sit at 1-3x
    because scheduling dominates.  Linear and scale-safe: at 100 TB the
    audit costs one pass over the log mass, which is the floor for any
    checker that must recompute every prefix."""
    ops = _kv_ops(spark, sf_dir)
    g = ops.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("seq", "op", "sval"))).alias(
            "log"
        )
    )

    def follower_struct(f: int):
        # integer floor division (positive operands): n*(f+1) div 4
        cutoff = F.expr(
            f"CAST(size(log) * {f + 1} AS BIGINT) div {_SNAP_FOLLOWERS + 1}"
        )
        lp = F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(
                        F.col("log"),
                        lambda s: (s["op"] == "put") & (s["seq"] <= cutoff),
                    ),
                    lambda s: s["seq"],
                )
            ),
            F.lit(0).cast("long"),
        )
        expected = F.array_join(
            F.transform(
                F.filter(
                    F.col("log"),
                    lambda s: (s["seq"] <= cutoff) & (s["seq"] >= lp),
                ),
                lambda s: s["sval"],
            ),
            ";",
        )
        corrupt = (
            hash64(
                F.concat(
                    F.lit("snap-"),
                    F.col("user_id").cast("string"),
                    F.lit("-"),
                    F.lit(str(f)),
                )
            )
            % _SNAP_FAULT_EVERY
            == 0
        )
        reported = F.when(corrupt, F.concat(expected, F.lit(";666"))).otherwise(
            expected
        )
        return F.struct(
            F.lit(f).cast("long").alias("follower"),
            cutoff.alias("cutoff"),
            expected.alias("expected_value"),
            reported.alias("reported_value"),
        )

    rows = g.select(
        "user_id",
        F.explode(
            F.array(*[follower_struct(f) for f in range(_SNAP_FOLLOWERS)])
        ).alias("r"),
    )
    return rows.select(
        F.col("user_id").alias("key"),
        F.col("r.follower").alias("follower"),
        F.col("r.cutoff").alias("cutoff"),
        F.col("r.reported_value").alias("reported_value"),
        F.when(
            F.col("r.reported_value") != F.col("r.expected_value"),
            "state_mismatch",
        )
        .otherwise("ok")
        .alias("verdict"),
    )


# the docstring cites the module constants by name in brace expressions;
# interpolate once at import so help() renders the values (ADVICE r9 —
# the def is not an f-string, so the braces would otherwise print
# literally)
raft_snapshot_audit.__doc__ = raft_snapshot_audit.__doc__.format(
    _SNAP_FOLLOWERS=_SNAP_FOLLOWERS, _SNAP_FAULT_EVERY=_SNAP_FAULT_EVERY
)


# ---------------------------------------------------------------------------
# B70. kv_client_dedup — at-most-once duplicate-request audit

#: 1 in _DUP_EVERY attempts (hash cell on event_id, never a per-event
#: rate) is a client RETRY of its immediately-preceding request.
_DUP_EVERY = 4
_DUP_H = "'retry-' || CAST(event_id AS VARCHAR)"


@register(
    "kv_client_dedup",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'signup' THEN 'put'
                    ELSE 'append' END AS op,
               CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR) AS sval,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS attempt
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN attempt > 1
                         AND {sql_hash64(_DUP_H)} % {_DUP_EVERY} = 0
                    THEN 1 ELSE 0 END AS retry
        FROM base
    ),
    marked AS (
        SELECT *,
               CASE WHEN retry = 1 AND lag(retry) OVER w = 0
                    THEN 1 ELSE 0 END AS is_dup,
               CASE WHEN retry = 1 AND lag(retry) OVER w = 0
                         AND op <> lag(op) OVER w
                    THEN 1 ELSE 0 END AS conflict
        FROM flagged
        WINDOW w AS (PARTITION BY user_id ORDER BY attempt)
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN is_dup = 0 AND op = 'put'
                        THEN attempt ELSE 0 END)
                   OVER (PARTITION BY user_id) AS last_put
        FROM marked
    )
    SELECT user_id AS key,
           string_agg(CASE WHEN is_dup = 0 AND attempt >= last_put
                           THEN sval END, ';' ORDER BY attempt) AS value,
           count(*) AS n_attempts,
           CAST(sum(1 - is_dup) AS BIGINT) AS n_applied,
           CAST(sum(is_dup) AS BIGINT) AS n_dups,
           CAST(sum(conflict) AS BIGINT) AS n_conflicts
    FROM cut
    GROUP BY user_id
    """,
)
def kv_client_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-most-once duplicate-request audit — the kvraft Clerk retries an
    RPC until a leader acknowledges it, so the SAME (client, request)
    can reach the state machine twice and the server must deduplicate
    (reference: src/kvraft/client.go:39-62 — the Clerk retry loop Put/
    Append/Get are built on; src/kvraft/test_test.go:139-155
    checkClntAppends — every append (clnt, j) must appear EXACTLY once
    and in order, the lab's at-most-once acceptance gate).  Batch twin:
    each user's event stream is a client's attempt log; 1 in
    {_DUP_EVERY} attempts (hash cell on event_id) is a network retry
    carrying its predecessor's request id.  The audit replays the log
    with server-side dedup — only the FIRST attempt of each request id
    applies — and reports, per client: the final applied KV value
    (kvraft Put-resets/Append-concatenates semantics, B10's replay),
    attempt/applied/duplicate counts, and how many duplicates carried a
    DIVERGENT op from the attempt they retried (a client bug in a real
    trace; here injected by construction so the detector provably
    fires).

    Determinism: retries duplicate only their immediately-preceding
    attempt (req_id = attempt - retry_flag), so duplicate detection is a
    lag() on the SAME per-user (ts, event_id) total order every kv
    operator uses — no (client, req_id) re-partition needed, and the
    verdict is identical under any partitioning.

    Scale shape: ONE exchange on user_id — row_number, the two lag()s,
    the last-put max-window and the final groupBy all share one
    hashpartitioning (windows chained, exchange reused).  Dedup state in
    a real server is per-client-bounded (one lastSeq per client); here
    it is a window function, so 100 TB of attempts stream through
    without any driver-side table."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "put")
        .otherwise("append")
        .alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").cast("string").alias("sval"),
        F.row_number().over(w).alias("attempt"),
        F.when(
            (F.row_number().over(w) > 1)
            & (
                hash64(
                    F.concat(F.lit("retry-"), F.col("event_id").cast("string"))
                )
                % _DUP_EVERY
                == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("retry"),
    )
    wa = Window.partitionBy("user_id").orderBy("attempt")
    marked = base.select(
        "*",
        F.when(
            (F.col("retry") == 1) & (F.lag("retry").over(wa) == 0), 1
        )
        .otherwise(0)
        .alias("is_dup"),
        F.when(
            (F.col("retry") == 1)
            & (F.lag("retry").over(wa) == 0)
            & (F.col("op") != F.lag("op").over(wa)),
            1,
        )
        .otherwise(0)
        .alias("conflict"),
    )
    cut = marked.select(
        "*",
        F.max(
            F.when(
                (F.col("is_dup") == 0) & (F.col("op") == "put"),
                F.col("attempt"),
            ).otherwise(0)
        )
        .over(Window.partitionBy("user_id"))
        .alias("last_put"),
    )
    agg = cut.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (F.col("is_dup") == 0)
                            & (F.col("attempt") >= F.col("last_put")),
                            F.struct("attempt", "sval"),
                        )
                    )
                ),
                lambda s: s["sval"],
            ),
            ";",
        ).alias("value"),
        F.count(F.lit(1)).alias("n_attempts"),
        F.sum(F.lit(1) - F.col("is_dup")).cast("long").alias("n_applied"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.sum("conflict").cast("long").alias("n_conflicts"),
    )
    return agg.select(
        F.col("user_id").alias("key"),
        "value",
        "n_attempts",
        "n_applied",
        "n_dups",
        "n_conflicts",
    )


# ---------------------------------------------------------------------------
# B78. shardkv_gc_audit — shard garbage-collection custody audit
# (reference src/shardkv/test_test.go:738 TestChallenge1Delete: after a
# handoff the SOURCE group must delete the moved shard state; the test
# fails a server whose snapshot still carries keys it no longer owns)

#: 1/7 of handoff cells leak (the source keeps reporting the shard)
_GC_LEAK_EVERY = 7
#: a leak persists for 1 + hash%3 configs after the handoff
_GC_LEAK_SPAN = 3

_GC_CELL = "CAST(num AS VARCHAR) || '/' || CAST(shard AS VARCHAR)"
_GC_H = sql_hash64(f"'gc-' || {_GC_CELL}")
_GC_HL = sql_hash64(f"'gcl-' || {_GC_CELL}")


def audit_shard_gc(
    reports: DataFrame, cfg: DataFrame, diff: DataFrame
) -> DataFrame:
    """Shard-GC audit over a custody-report trace.

    ``reports``: (num, gid, shard) — each group's claim "at config num I
    hold shard s" (duplicates = heartbeat retries, benign).  ``cfg``:
    the ctrler history (num, shard, gid=owner).  ``diff``: the handoffs
    (num, shard, from_gid, to_gid).  A report is a VIOLATION when the
    reporter is not the owner at that config; each violation is
    attributed to the reporter's LATEST handoff of that shard at or
    before the report (the state it failed to delete).  Emits one row
    per handoff with the leaked-config count and the
    TestChallenge1Delete verdict.

    Scale shape: cfg/diff are control-plane-sized and BROADCAST; the
    report trace (the potentially huge side) is distinct-collapsed with
    map-side partials onto the (num, gid, shard) grid before any join;
    the violation attribution is a broadcast max_by.  No fact-sized
    shuffle keyed on config."""
    viol = (
        reports.select("num", "gid", "shard")
        .distinct()
        .join(
            F.broadcast(
                cfg.select(
                    "num", "shard", F.col("gid").alias("owner")
                )
            ),
            ["num", "shard"],
        )
        .where(F.col("gid") != F.col("owner"))
    )
    handoffs = diff.select(
        F.col("num").alias("h_num"),
        F.col("shard").alias("h_shard"),
        F.col("from_gid").alias("h_gid"),
    )
    attr = (
        viol.join(
            F.broadcast(handoffs),
            (F.col("h_shard") == F.col("shard"))
            & (F.col("h_gid") == F.col("gid"))
            & (F.col("h_num") <= F.col("num")),
        )
        .groupBy("num", "gid", "shard")
        .agg(F.max("h_num").alias("h_num"))
        .groupBy("h_num", "shard", "gid")
        .agg(F.count(F.lit(1)).alias("n_leak_cfgs"))
    )
    return (
        diff.join(
            F.broadcast(attr),
            (diff["num"] == attr["h_num"])
            & (diff["shard"] == attr["shard"])
            & (diff["from_gid"] == attr["gid"]),
            "left",
        )
        .select(
            diff["num"],
            diff["shard"],
            "from_gid",
            "to_gid",
            F.coalesce("n_leak_cfgs", F.lit(0)).cast("long").alias(
                "n_leak_cfgs"
            ),
            (F.coalesce("n_leak_cfgs", F.lit(0)) == 0).alias("gc_clean"),
        )
    )


def derive_gc_reports(cfg: DataFrame, diff: DataFrame, last_cfg: int) -> DataFrame:
    """Deterministic custody-report trace: every owner reports its shards
    (compliant), and 1/{_GC_LEAK_EVERY} of handoff cells LEAK — the
    source group keeps reporting the shard for 1 + hash%{_GC_LEAK_SPAN}
    configs after the handoff (the deletion bug TestChallenge1Delete
    exists to catch).  All md5-derived from the (num, shard) cell, so
    the violation mix is a property of the bounded handoff grid —
    bit-identical on both engines and stable at every scale factor."""
    owners = cfg.where(F.col("num") >= 1).select("num", "gid", "shard")
    cell = F.concat(
        F.col("num").cast("string"), F.lit("/"), F.col("shard").cast("string")
    )
    span = 1 + (hash64(cell, salt="gcl-") % _GC_LEAK_SPAN)
    leaks = (
        diff.where(hash64(cell, salt="gc-") % _GC_LEAK_EVERY == 0)
        .select(
            F.col("from_gid").alias("gid"),
            "shard",
            F.explode(
                F.sequence(
                    F.col("num"),
                    F.least(F.col("num") + span - 1, F.lit(last_cfg)),
                )
            ).alias("num"),
        )
        .select("num", "gid", "shard")
    )
    return owners.unionByName(leaks)


@register(
    "shardkv_gc_audit",
    oracle=f"""
    WITH {_CTRL_CFG_CTES},
    diff AS (
        SELECT b.num, b.shard, a.gid AS from_gid, b.gid AS to_gid
        FROM cfg a JOIN cfg b ON b.num = a.num + 1 AND b.shard = a.shard
        WHERE a.gid <> b.gid
    ),
    leaks AS (
        SELECT t.num, d.from_gid AS gid, d.shard
        FROM (SELECT *, 1 + ({_GC_HL} % {_GC_LEAK_SPAN}) AS span
              FROM diff WHERE {_GC_H} % {_GC_LEAK_EVERY} = 0) d,
             UNNEST(range(d.num,
                          LEAST(d.num + d.span - 1, {_CTRL_LAST_CFG}) + 1))
                 t(num)
    ),
    reports AS (
        SELECT num, gid, shard FROM cfg WHERE num >= 1
        UNION ALL SELECT num, gid, shard FROM leaks
    ),
    viol AS (
        SELECT DISTINCT r.num, r.gid, r.shard
        FROM reports r JOIN cfg c ON c.num = r.num AND c.shard = r.shard
        WHERE r.gid <> c.gid
    ),
    attr AS (
        SELECT h_num, shard, gid, CAST(count(*) AS BIGINT) AS n_leak_cfgs
        FROM (
            SELECT v.num, v.gid, v.shard, max(d.num) AS h_num
            FROM viol v JOIN diff d
              ON d.shard = v.shard AND d.from_gid = v.gid AND d.num <= v.num
            GROUP BY v.num, v.gid, v.shard
        ) GROUP BY h_num, shard, gid
    )
    SELECT d.num, d.shard, d.from_gid, d.to_gid,
           COALESCE(a.n_leak_cfgs, 0) AS n_leak_cfgs,
           COALESCE(a.n_leak_cfgs, 0) = 0 AS gc_clean
    FROM diff d LEFT JOIN attr a
      ON a.h_num = d.num AND a.shard = d.shard AND a.gid = d.from_gid
    """,
)
def shardkv_gc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard garbage-collection audit (B78) — TestChallenge1Delete
    (/root/reference/src/shardkv/test_test.go:738) as a trace-audit
    query: for every handoff in the ctrler history, did the source group
    actually DELETE the moved shard state, or does it still report
    custody afterwards?  See ``audit_shard_gc`` for the rules and scale
    shape and ``derive_gc_reports`` for the deterministic leak
    injection; composes B30's config-diff machinery (the same cfg/diff
    relations, localCheckpoint'ed once)."""
    cfg = (
        config_log_replay(spark, sf_dir)
        .select("num", "shard", "gid")
        .localCheckpoint(eager=True)
    )
    nxt = cfg.select(
        (F.col("num") - 1).alias("pnum"),
        F.col("shard").alias("pshard"),
        F.col("gid").alias("to_gid"),
        F.col("num").alias("nnum"),
    )
    diff = (
        cfg.join(
            nxt,
            (cfg["num"] == nxt["pnum"]) & (cfg["shard"] == nxt["pshard"]),
        )
        .where(F.col("gid") != F.col("to_gid"))
        .select(
            F.col("nnum").alias("num"),
            "shard",
            F.col("gid").alias("from_gid"),
            "to_gid",
        )
        .localCheckpoint(eager=True)
    )
    reports = derive_gc_reports(cfg, diff, _CTRL_LAST_CFG)
    return audit_shard_gc(reports, cfg, diff)


# ---------------------------------------------------------------------------
# B79. raft_persistence_audit — crash-restart persistence trace audit
# (reference src/raft/test_test.go TestPersist1/2/3 + TestFigure8: a
# restarted peer must come back with currentTerm/votedFor/log intact —
# the term may never regress across a restart, a vote for a term may
# never change, and a log suffix overwritten by a newer leader must
# never RESURFACE after a later restart)

_RFP_EPOCHS = 6  # restart generations per peer
_RFP_IDX = 20  # log index space in the derived trace
_RFP_REGRESS_EVERY = 9  # 1/9 (peer, epoch>0) cells restart with a stale term
_RFP_REVOTE_EVERY = 11  # 1/11 (peer, term) cells change their vote
_RFP_RESURRECT_EVERY = 13  # 1/13 (peer, index) cells resurrect an old entry


def audit_raft_persistence(trace: DataFrame) -> DataFrame:
    """Persistence audit over a per-peer persisted-state trace.

    ``trace``: (peer, epoch, term, voted_for, idx, entry_id) records —
    each row is one persisted snapshot of a peer's durable raft state
    (epoch = restart generation; idx/entry_id = one log cell the record
    carries).  Three lab-2C properties, each as a bounded aggregate:

    1. TERM MONOTONICITY: the smallest term a peer persists in epoch
       e+1 must be >= the largest it persisted in epoch e (a dip means
       currentTerm was not durably saved across the crash).
    2. VOTE STABILITY: a peer persists at most ONE votedFor per term
       (two distinct votes for one term = the double-vote enabler
       TestPersist exists to prevent).
    3. NO RESURRECTED SUFFIX: per (peer, idx), entry ids must occupy
       CONTIGUOUS epoch ranges — id A reappearing after id B overwrote
       it (A.first < B.first < A.last) is Figure-8's forbidden history.

    Scale shape: ONE pass collapses the trace onto three bounded grids
    (peer x epoch, peer x term, peer x idx x id) with map-side partials;
    the adjacency and interleave checks are self-joins over those
    broadcast-sized grids, never over the trace."""
    trace = trace.localCheckpoint(eager=False)
    # 1. term monotonicity across adjacent epochs
    pe = trace.groupBy("peer", "epoch").agg(
        F.min("term").alias("tmin"), F.max("term").alias("tmax")
    )
    nxt = pe.select(
        F.col("peer").alias("p2"),
        (F.col("epoch") - 1).alias("e2"),
        F.col("tmin").alias("next_tmin"),
    )
    regress = (
        pe.join(
            F.broadcast(nxt),
            (pe["peer"] == nxt["p2"]) & (pe["epoch"] == nxt["e2"]),
        )
        .where(F.col("next_tmin") < F.col("tmax"))
        .groupBy("peer")
        .agg(F.count(F.lit(1)).alias("n_term_regressions"))
    )
    # 2. vote stability per (peer, term)
    revote = (
        trace.where(F.col("voted_for").isNotNull())
        .groupBy("peer", "term")
        .agg(F.countDistinct("voted_for").alias("nv"))
        .where(F.col("nv") > 1)
        .groupBy("peer")
        .agg(F.count(F.lit(1)).alias("n_revote_terms"))
    )
    # 3. resurrected log suffix per (peer, idx)
    span = trace.groupBy("peer", "idx", "entry_id").agg(
        F.min("epoch").alias("emin"), F.max("epoch").alias("emax")
    )
    other = span.select(
        F.col("peer").alias("p2"),
        F.col("idx").alias("i2"),
        F.col("entry_id").alias("id2"),
        F.col("emin").alias("b_emin"),
    )
    resurrect = (
        span.join(
            F.broadcast(other),
            (span["peer"] == other["p2"])
            & (span["idx"] == other["i2"])
            & (span["entry_id"] != other["id2"])
            & (span["emin"] < other["b_emin"])
            & (other["b_emin"] < span["emax"]),
        )
        .select("peer", "idx")
        .distinct()
        .groupBy("peer")
        .agg(F.count(F.lit(1)).alias("n_resurrect_indexes"))
    )
    base = trace.groupBy("peer").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("epoch").alias("n_epochs"),
    )
    z = lambda c: F.coalesce(c, F.lit(0)).cast("long")
    return (
        base.join(regress, "peer", "left")
        .join(revote, "peer", "left")
        .join(resurrect, "peer", "left")
        .select(
            "peer",
            "n_records",
            "n_epochs",
            z(F.col("n_term_regressions")).alias("n_term_regressions"),
            z(F.col("n_revote_terms")).alias("n_revote_terms"),
            z(F.col("n_resurrect_indexes")).alias("n_resurrect_indexes"),
            (
                (z(F.col("n_term_regressions")) == 0)
                & (z(F.col("n_revote_terms")) == 0)
                & (z(F.col("n_resurrect_indexes")) == 0)
            ).alias("persist_ok"),
        )
    )


def derive_persistence_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic persisted-state trace from events.  Per record:
    peer/epoch/log-index hash-assigned; terms live in [4e, 4e+3] so
    epochs are term-monotone UNLESS the (peer, epoch) cell is one of the
    1/{_RFP_REGRESS_EVERY} injected stale-term restarts; votedFor is a
    per-(peer, term) constant except the 1/{_RFP_REVOTE_EVERY} re-vote
    cells, whose records alternate candidates; each record carries one
    (idx, entry_id) log cell — id flips a->b at a per-(peer, idx) switch
    epoch (a legitimate overwrite, contiguous) except the
    1/{_RFP_RESURRECT_EVERY} resurrect cells, where the id ALTERNATES
    with epoch parity (the Figure-8 forbidden history).  Violation rates
    are properties of the bounded cell grids, not event volume, so the
    verdict mix is scale-stable; everything is md5-derived and
    bit-identical on both engines."""
    ev = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id").cast("string")
    peer = hash64(eid, salt="rfp-p") % _RAFT_PEERS
    epoch = hash64(eid, salt="rfp-e") % _RFP_EPOCHS
    # only hash-chosen FAULTY peers get injections, so compliant peers
    # genuinely pass all three checks and the verdict column is a real mix
    faulty = hash64(peer.cast("string"), salt="rfp-g") % 2 == 0
    pe_cell = F.concat(peer.cast("string"), F.lit("/"), epoch.cast("string"))
    regressed = (
        faulty
        & (epoch > 0)
        & (hash64(pe_cell, salt="rfp-r") % _RFP_REGRESS_EVERY == 0)
    )
    term = F.when(
        regressed,
        F.greatest(F.lit(0), 4 * epoch - 6 + hash64(eid, salt="rfp-t") % 4),
    ).otherwise(4 * epoch + hash64(eid, salt="rfp-t") % 4)
    pt_cell = F.concat(peer.cast("string"), F.lit("/"), term.cast("string"))
    v0 = hash64(pt_cell, salt="rfp-v") % _RAFT_PEERS
    revote_cell = faulty & (
        hash64(pt_cell, salt="rfp-w") % _RFP_REVOTE_EVERY == 0
    )
    flip = hash64(eid, salt="rfp-f") % 2 == 0
    voted_for = F.when(revote_cell & flip, (v0 + 1) % _RAFT_PEERS).otherwise(v0)
    idx = hash64(eid, salt="rfp-i") % _RFP_IDX
    pi_cell = F.concat(peer.cast("string"), F.lit("/"), idx.cast("string"))
    id_a = hash64(pi_cell, salt="rfp-a") % 1000000
    switch = 1 + hash64(pi_cell, salt="rfp-s") % (_RFP_EPOCHS - 1)
    resurrect_cell = faulty & (
        hash64(pi_cell, salt="rfp-x") % _RFP_RESURRECT_EVERY == 0
    )
    entry_id = F.when(
        resurrect_cell,
        F.when(epoch % 2 == 0, id_a).otherwise(id_a + 1),
    ).otherwise(F.when(epoch < switch, id_a).otherwise(id_a + 1))
    return ev.select(
        peer.alias("peer"),
        epoch.alias("epoch"),
        term.alias("term"),
        voted_for.alias("voted_for"),
        idx.alias("idx"),
        entry_id.alias("entry_id"),
    )


_RFP_P = sql_hash64("'rfp-p' || CAST(event_id AS VARCHAR)")
_RFP_E = sql_hash64("'rfp-e' || CAST(event_id AS VARCHAR)")
_RFP_T = sql_hash64("'rfp-t' || CAST(event_id AS VARCHAR)")
_RFP_F = sql_hash64("'rfp-f' || CAST(event_id AS VARCHAR)")
_RFP_I = sql_hash64("'rfp-i' || CAST(event_id AS VARCHAR)")
_RFP_PE = "CAST(peer AS VARCHAR) || '/' || CAST(epoch AS VARCHAR)"
_RFP_PT = "CAST(peer AS VARCHAR) || '/' || CAST(term AS VARCHAR)"
_RFP_PI = "CAST(peer AS VARCHAR) || '/' || CAST(idx AS VARCHAR)"


@register(
    "raft_persistence_audit",
    oracle=f"""
    WITH t0 AS (
        SELECT ({_RFP_P} % {_RAFT_PEERS}) AS peer,
               ({_RFP_E} % {_RFP_EPOCHS}) AS epoch,
               ({_RFP_T} % 4) AS tj,
               ({_RFP_F} % 2) = 0 AS flip,
               ({_RFP_I} % {_RFP_IDX}) AS idx
        FROM events
    ),
    tf AS (
        SELECT *, ({sql_hash64("'rfp-g' || CAST(peer AS VARCHAR)")} % 2) = 0
                      AS faulty
        FROM t0
    ),
    t1 AS (
        SELECT *, CASE WHEN faulty AND epoch > 0
                        AND ({sql_hash64(f"'rfp-r' || {_RFP_PE}")}
                             % {_RFP_REGRESS_EVERY}) = 0
                       THEN GREATEST(0, 4 * epoch - 6 + tj)
                       ELSE 4 * epoch + tj END AS term
        FROM tf
    ),
    t2 AS (
        SELECT peer, epoch, term, flip, idx,
               ({sql_hash64(f"'rfp-v' || {_RFP_PT}")} % {_RAFT_PEERS}) AS v0,
               faulty AND ({sql_hash64(f"'rfp-w' || {_RFP_PT}")}
                % {_RFP_REVOTE_EVERY}) = 0 AS revote,
               ({sql_hash64(f"'rfp-a' || {_RFP_PI}")} % 1000000) AS id_a,
               1 + ({sql_hash64(f"'rfp-s' || {_RFP_PI}")}
                    % {_RFP_EPOCHS - 1}) AS switch,
               faulty AND ({sql_hash64(f"'rfp-x' || {_RFP_PI}")}
                % {_RFP_RESURRECT_EVERY}) = 0 AS resurrect
        FROM t1
    ),
    trace AS (
        SELECT peer, epoch, term, idx,
               CASE WHEN revote AND flip
                    THEN (v0 + 1) % {_RAFT_PEERS} ELSE v0 END AS voted_for,
               CASE WHEN resurrect
                    THEN CASE WHEN epoch % 2 = 0 THEN id_a ELSE id_a + 1 END
                    ELSE CASE WHEN epoch < switch THEN id_a
                              ELSE id_a + 1 END END AS entry_id
        FROM t2
    ),
    pe AS (SELECT peer, epoch, min(term) AS tmin, max(term) AS tmax
           FROM trace GROUP BY peer, epoch),
    regress AS (
        SELECT a.peer, CAST(count(*) AS BIGINT) AS n_term_regressions
        FROM pe a JOIN pe b ON b.peer = a.peer AND b.epoch = a.epoch + 1
        WHERE b.tmin < a.tmax GROUP BY a.peer
    ),
    revote AS (
        SELECT peer, CAST(count(*) AS BIGINT) AS n_revote_terms FROM (
            SELECT peer, term FROM trace WHERE voted_for IS NOT NULL
            GROUP BY peer, term HAVING count(DISTINCT voted_for) > 1
        ) GROUP BY peer
    ),
    span AS (SELECT peer, idx, entry_id,
                    min(epoch) AS emin, max(epoch) AS emax
             FROM trace GROUP BY peer, idx, entry_id),
    resurrect AS (
        SELECT peer, CAST(count(*) AS BIGINT) AS n_resurrect_indexes FROM (
            SELECT DISTINCT a.peer, a.idx
            FROM span a JOIN span b
              ON b.peer = a.peer AND b.idx = a.idx
             AND b.entry_id <> a.entry_id
             AND a.emin < b.emin AND b.emin < a.emax
        ) GROUP BY peer
    ),
    base AS (SELECT peer, CAST(count(*) AS BIGINT) AS n_records,
                    CAST(count(DISTINCT epoch) AS BIGINT) AS n_epochs
             FROM trace GROUP BY peer)
    SELECT peer, n_records, n_epochs,
           COALESCE(n_term_regressions, 0) AS n_term_regressions,
           COALESCE(n_revote_terms, 0) AS n_revote_terms,
           COALESCE(n_resurrect_indexes, 0) AS n_resurrect_indexes,
           COALESCE(n_term_regressions, 0) = 0
               AND COALESCE(n_revote_terms, 0) = 0
               AND COALESCE(n_resurrect_indexes, 0) = 0 AS persist_ok
    FROM base LEFT JOIN regress USING (peer)
    LEFT JOIN revote USING (peer) LEFT JOIN resurrect USING (peer)
    """,
)
def raft_persistence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raft persistence audit (B79) — TestPersist1/2/3 + TestFigure8
    (/root/reference/src/raft/test_test.go) as a trace-audit query over
    a derived persisted-state trace: term monotonicity across restarts,
    votedFor stability within a term, and no resurrected overwritten log
    suffix.  See ``audit_raft_persistence`` for the properties and scale
    shape, ``derive_persistence_trace`` for the per-cell injection
    recipe (the B63/B64 discipline)."""
    return audit_raft_persistence(derive_persistence_trace(spark, sf_dir))


# ---------------------------------------------------------------------------
# B80. shardkv_availability_audit — migration-window availability audit
# (reference src/shardkv/test_test.go:824 TestChallenge2Unaffected +
# :894 TestChallenge2Partial: during a reconfiguration, ops on shards
# that are NOT moving must keep being served, and a moved shard must be
# served by its new owner AS SOON AS that shard's data is installed —
# not only after the whole reconfiguration completes)

_AV_OPS_PER_CELL = 1000  # op ordinals within a config window
_AV_STALL_EVERY = 9  # 1/9 unmoved (num, shard) cells stall (Challenge2Unaffected bug)
_AV_PREMATURE_EVERY = 7  # 1/7 moved cells serve before the install (stale reads)
_AV_BLOCKED_EVERY = 8  # 1/8 moved cells never serve until the next config
#: premature cells serve this many ordinals early
_AV_EARLY = 150

_AV_CELL = "CAST(num AS VARCHAR) || '/' || CAST(shard AS VARCHAR)"


def audit_shard_availability(
    ops: DataFrame, cfg: DataFrame, installs: DataFrame
) -> DataFrame:
    """Challenge-2 audit over a client-op trace.

    ``ops``: (num, shard, t, served) — client operations during config
    window ``num`` at in-window ordinal ``t`` with the serve outcome.
    ``cfg``: the ctrler history (num, shard, gid).  ``installs``: per
    MOVED (num, shard) the ordinal ``install_t`` at which the new owner
    finished installing the shard's data.  Three verdicts per
    (num, shard):

    - STALLS (TestChallenge2Unaffected): an op on an UNMOVED shard that
      was not served — unaffected shards must serve straight through a
      reconfiguration.
    - PREMATURE (install ordering): an op on a moved shard served
      BEFORE the shard's data arrived — the new owner answered from
      state it did not have (stale/empty reads).
    - BLOCKED (TestChallenge2Partial): an op on a moved shard at or
      after its install that was NOT served — the conservative-but-
      wrong implementation that waits for the WHOLE reconfiguration.

    Scale shape: cfg/diff/installs are control-plane-sized broadcasts;
    the op trace (the huge side) streams through ONE broadcast join and
    collapses onto the (num, shard) grid with map-side partials —
    no fact-sized shuffle keyed on config."""
    prev = cfg.select(
        (F.col("num") + 1).alias("nnum"),
        F.col("shard").alias("pshard"),
        F.col("gid").alias("prev_gid"),
    )
    moved = (
        cfg.join(
            F.broadcast(prev),
            (cfg["num"] == prev["nnum"]) & (cfg["shard"] == prev["pshard"]),
        )
        .select("num", "shard", (F.col("gid") != F.col("prev_gid")).alias("moved"))
    )
    enriched = ops.join(F.broadcast(moved), ["num", "shard"]).join(
        F.broadcast(installs), ["num", "shard"], "left"
    )
    agg = enriched.groupBy("num", "shard").agg(
        F.first("moved").alias("moved"),
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(
            F.when(~F.col("moved") & ~F.col("served"), 1).otherwise(0)
        ).cast("long").alias("n_stalls"),
        F.sum(
            F.when(
                F.col("moved")
                & F.col("served")
                & (F.col("t") < F.col("install_t")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_premature"),
        F.sum(
            F.when(
                F.col("moved")
                & ~F.col("served")
                & (F.col("t") >= F.col("install_t")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_blocked"),
    )
    return agg.select(
        "num",
        "shard",
        "moved",
        "n_ops",
        "n_stalls",
        "n_premature",
        "n_blocked",
        (
            (F.col("n_stalls") == 0)
            & (F.col("n_premature") == 0)
            & (F.col("n_blocked") == 0)
        ).alias("available_ok"),
    )


def derive_availability_trace(
    spark: SparkSession, sf_dir: str, cfg: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (ops, installs) pair.  Each event is one client op:
    config window, shard, and in-window ordinal hash-assigned.  Every
    MOVED (num, shard) cell gets an install ordinal.  Compliant serving:
    unmoved shards always serve; moved shards serve iff t >= install_t.
    Injections (md5 over the bounded cell grid, scale-stable): 1/9 of
    unmoved cells STALL some ops, 1/7 of moved cells serve {_AV_EARLY}
    ordinals EARLY, 1/8 of moved cells never serve in the window."""
    prev = cfg.select(
        (F.col("num") + 1).alias("nnum"),
        F.col("shard").alias("pshard"),
        F.col("gid").alias("prev_gid"),
    )
    cells = (
        cfg.join(
            F.broadcast(prev),
            (cfg["num"] == prev["nnum"]) & (cfg["shard"] == prev["pshard"]),
        )
        .select("num", "shard", (F.col("gid") != F.col("prev_gid")).alias("moved"))
        .localCheckpoint(eager=True)
    )
    cell = F.concat(
        F.col("num").cast("string"), F.lit("/"), F.col("shard").cast("string")
    )
    installs = cells.where("moved").select(
        "num",
        "shard",
        (hash64(cell, salt="av-i") % (_AV_OPS_PER_CELL // 2)
         + _AV_OPS_PER_CELL // 10).alias("install_t"),
    )
    ev = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id").cast("string")
    # ops only land in config windows >= 1 (cfg 0 is the invalid config)
    num = 1 + hash64(eid, salt="av-n") % _CTRL_LAST_CFG
    shard = hash64(eid, salt="av-s") % N_CTRL_SHARDS
    t = hash64(eid, salt="av-t") % _AV_OPS_PER_CELL
    raw = ev.select(num.alias("num"), shard.alias("shard"), t.alias("t"))
    opcell = F.concat(
        F.col("num").cast("string"), F.lit("/"), F.col("shard").cast("string")
    )
    stall_cell = hash64(opcell, salt="av-x") % _AV_STALL_EVERY == 0
    prem_cell = hash64(opcell, salt="av-q") % _AV_PREMATURE_EVERY == 0
    block_cell = hash64(opcell, salt="av-b") % _AV_BLOCKED_EVERY == 0
    opid = F.concat(
        opcell, F.lit("#"), F.col("t").cast("string")
    )
    stall_this = hash64(opid, salt="av-z") % 3 == 0
    ops = (
        raw.join(F.broadcast(cells), ["num", "shard"])
        .join(F.broadcast(installs), ["num", "shard"], "left")
        .select(
            "num",
            "shard",
            "t",
            F.when(
                ~F.col("moved"),
                # unmoved: compliant serve, except stall-cell injections
                ~(stall_cell & stall_this),
            )
            .otherwise(
                # moved: blocked cells never serve; premature cells serve
                # early; compliant cells serve from the install on
                F.when(block_cell, F.lit(False))
                .when(prem_cell, F.col("t") >= F.col("install_t") - _AV_EARLY)
                .otherwise(F.col("t") >= F.col("install_t"))
            )
            .alias("served"),
        )
    )
    return ops, installs


_AV_OPCELL = "CAST(r.num AS VARCHAR) || '/' || CAST(r.shard AS VARCHAR)"
_AV_OPID = f"{_AV_OPCELL} || '#' || CAST(r.t AS VARCHAR)"


@register(
    "shardkv_availability_audit",
    oracle=f"""
    WITH {_CTRL_CFG_CTES},
    cells AS (
        SELECT b.num, b.shard, a.gid <> b.gid AS moved
        FROM cfg a JOIN cfg b ON b.num = a.num + 1 AND b.shard = a.shard
    ),
    installs AS (
        SELECT num, shard,
               ({sql_hash64(f"'av-i' || {_AV_CELL}")}
                % {_AV_OPS_PER_CELL // 2}) + {_AV_OPS_PER_CELL // 10}
                   AS install_t
        FROM cells WHERE moved
    ),
    raw AS (
        SELECT 1 + ({sql_hash64("'av-n' || CAST(event_id AS VARCHAR)")}
                    % {_CTRL_LAST_CFG}) AS num,
               ({sql_hash64("'av-s' || CAST(event_id AS VARCHAR)")}
                % {N_CTRL_SHARDS}) AS shard,
               ({sql_hash64("'av-t' || CAST(event_id AS VARCHAR)")}
                % {_AV_OPS_PER_CELL}) AS t
        FROM events
    ),
    ops AS (
        SELECT r.num, r.shard, r.t,
               CASE WHEN NOT c.moved THEN NOT (
                        ({sql_hash64(f"'av-x' || {_AV_OPCELL}")}
                         % {_AV_STALL_EVERY}) = 0
                        AND ({sql_hash64(f"'av-z' || {_AV_OPID}")} % 3) = 0)
                    WHEN ({sql_hash64(f"'av-b' || {_AV_OPCELL}")}
                          % {_AV_BLOCKED_EVERY}) = 0 THEN false
                    WHEN ({sql_hash64(f"'av-q' || {_AV_OPCELL}")}
                          % {_AV_PREMATURE_EVERY}) = 0
                        THEN r.t >= i.install_t - {_AV_EARLY}
                    ELSE r.t >= i.install_t END AS served
        FROM raw r
        JOIN cells c ON c.num = r.num AND c.shard = r.shard
        LEFT JOIN installs i ON i.num = r.num AND i.shard = r.shard
    ),
    agg AS (
        SELECT o.num, o.shard, any_value(c.moved) AS moved,
               CAST(count(*) AS BIGINT) AS n_ops,
               CAST(sum(CASE WHEN NOT c.moved AND NOT served
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stalls,
               CAST(sum(CASE WHEN c.moved AND served AND o.t < i.install_t
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_premature,
               CAST(sum(CASE WHEN c.moved AND NOT served
                              AND o.t >= i.install_t
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
        FROM ops o
        JOIN cells c ON c.num = o.num AND c.shard = o.shard
        LEFT JOIN installs i ON i.num = o.num AND i.shard = o.shard
        GROUP BY o.num, o.shard
    )
    SELECT num, shard, moved, n_ops, n_stalls, n_premature, n_blocked,
           n_stalls = 0 AND n_premature = 0 AND n_blocked = 0
               AS available_ok
    FROM agg
    """,
)
def shardkv_availability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-window availability audit (B80) — shardkv Challenge 2
    (/root/reference/src/shardkv/test_test.go:824 Unaffected, :894
    Partial) as a trace-audit query: per (config, shard), did unaffected
    shards keep serving, did the new owner serve only AFTER its install,
    and did it start serving AS SOON AS the install landed (not when the
    whole reconfiguration finished)?  See ``audit_shard_availability``
    for the verdicts and scale shape, ``derive_availability_trace`` for
    the per-cell injection recipe (B78's discipline)."""
    cfg = (
        config_log_replay(spark, sf_dir)
        .select("num", "shard", "gid")
        .localCheckpoint(eager=True)
    )
    ops, installs = derive_availability_trace(spark, sf_dir, cfg)
    return audit_shard_availability(ops, cfg, installs)


# ---------------------------------------------------------------------------
# B81. kv_session_guarantees — session-guarantee audit (read-your-writes +
# monotonic reads) over a derived client-session KV trace

#: clients share keys 50-to-1 so sessions interleave on every key — the
#: regime where session guarantees are distinct from linearizability
_SG_KEYS = 50
_SG_LAG_EVERY = 13  # 1/13 of reads observe a stale version (injected)
_SG_LAG_MOD = 3  # injected staleness depth: 1..3 versions behind

_SG_INJ = sql_hash64("'sgl-' || CAST(event_id AS VARCHAR)")
_SG_LAG = sql_hash64("'sgn-' || CAST(event_id AS VARCHAR)")


def audit_session_guarantees(trace: DataFrame) -> DataFrame:
    """Session-guarantee audit of a versioned KV read trace (Terry et al.
    PDIS'94): per client session, a read must observe a version at least
    as new as (a) the session's own last write on the key — Read Your
    Writes — and (b) anything the session already read — Monotonic Reads.
    Staleness that violates neither is legal eventual consistency; the
    audit separates the three cases instead of collapsing them into one
    "stale" bit.

    ``trace``: (session, key, ts, event_id, is_write, wver, obs) where
    wver is the key's global version at-or-before the op and obs is the
    version the read actually observed (writes carry obs = wver).
    Returns one row per READ with both floors and both verdicts.

    Scale shape: two exchanges total — version numbering partitions by
    key, both session floors share the (session, key) partitioning (one
    window spec, two frames); verdict columns are row-local comparisons.
    At 100 TB both keys are uniform (client id, key id) and the shuffled
    payload is fixed-width ids — text/values never move.

    The floor windows partition by (session, key), NOT session alone
    (ADVICE r7): wver/obs are PER-KEY version counters, so a session
    that touches multiple keys must never compare a read on key A
    against a floor established on key B — per-key floors are the only
    comparison Terry et al.'s version-vector framing licenses when the
    trace carries per-key scalar versions."""
    ws = Window.partitionBy("session", "key").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    own_w = F.coalesce(
        F.max(F.when(F.col("is_write") == 1, F.col("wver"))).over(ws), F.lit(0)
    )
    read_f = F.coalesce(
        F.max(F.when(F.col("is_write") == 0, F.col("obs"))).over(ws), F.lit(0)
    )
    flo = trace.select(
        "session",
        "key",
        "event_id",
        "is_write",
        "wver",
        "obs",
        own_w.alias("own_write_floor"),
        read_f.alias("read_floor"),
    )
    return (
        flo.where(F.col("is_write") == 0)
        .select(
            F.col("event_id").alias("opid"),
            "session",
            "key",
            F.col("obs").alias("obs_version"),
            F.col("wver").alias("latest_version"),
            "own_write_floor",
            "read_floor",
            (F.col("obs") >= F.col("own_write_floor")).alias("ryw_ok"),
            (F.col("obs") >= F.col("read_floor")).alias("mr_ok"),
            (F.col("obs") < F.col("wver")).alias("is_stale"),
        )
    )


def derive_session_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic versioned session trace from events: session =
    user_id, key = user_id % 50 (sessions interleave on shared keys),
    writes = signup/purchase (the linearizability derivation's write
    set), version = the key's running write count in (ts, event_id)
    order.  Reads observe the latest version — except a hash-chosen
    1/13, which observe 1..3 versions behind (clamped at 0): a stale
    read that may or may not break a session guarantee depending on
    what THIS session did before, which is exactly what the audit must
    distinguish."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    is_write = (
        F.col("event_type").isin("signup", "purchase").cast("int")
    )
    base = ev.select(
        F.col("user_id").alias("session"),
        (F.col("user_id") % _SG_KEYS).alias("key"),
        "ts",
        "event_id",
        is_write.alias("is_write"),
    )
    wk = Window.partitionBy("key").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vered = base.select("*", F.sum("is_write").over(wk).alias("wver"))
    inject = (
        hash64(F.col("event_id").cast("string"), salt="sgl-") % _SG_LAG_EVERY
        == 0
    )
    lag = 1 + hash64(F.col("event_id").cast("string"), salt="sgn-") % _SG_LAG_MOD
    obs = F.when(
        (F.col("is_write") == 0) & inject,
        F.greatest(F.col("wver") - lag, F.lit(0)),
    ).otherwise(F.col("wver"))
    return vered.select(
        "session", "key", "ts", "event_id", "is_write", obs.alias("obs"), "wver"
    )


@register(
    "kv_session_guarantees",
    oracle=f"""
    WITH base AS (
        SELECT user_id AS session,
               user_id % {_SG_KEYS} AS key,
               ts, event_id,
               CASE WHEN event_type IN ('signup', 'purchase')
                    THEN 1 ELSE 0 END AS is_write
        FROM events
    ), vered AS (
        SELECT *,
               CAST(SUM(is_write) OVER (
                   PARTITION BY key ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS wver
        FROM base
    ), traced AS (
        SELECT *,
               CASE WHEN is_write = 0 AND {_SG_INJ} % {_SG_LAG_EVERY} = 0
                    THEN greatest(wver - (1 + {_SG_LAG} % {_SG_LAG_MOD}), 0)
                    ELSE wver END AS obs
        FROM vered
    ), floored AS (
        SELECT *,
               coalesce(max(CASE WHEN is_write = 1 THEN wver END) OVER w,
                        0) AS own_write_floor,
               coalesce(max(CASE WHEN is_write = 0 THEN obs END) OVER w,
                        0) AS read_floor
        FROM traced
        WINDOW w AS (PARTITION BY session, key ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS opid, session, key,
           obs AS obs_version,
           wver AS latest_version,
           own_write_floor, read_floor,
           obs >= own_write_floor AS ryw_ok,
           obs >= read_floor AS mr_ok,
           obs < wver AS is_stale
    FROM floored WHERE is_write = 0
    """,
)
def kv_session_guarantees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-guarantee audit (B81) — the client-visible consistency
    contract BELOW linearizability: B51/B62 audit the whole history
    against a single register; this audits each client SESSION against
    Terry et al.'s Read-Your-Writes and Monotonic-Reads guarantees, the
    checks an eventually-consistent deployment of the reference's KV
    store (reads served by lagging replicas) actually owes its clients.
    Distinguishes per read: fresh, stale-but-legal, RYW violation,
    MR violation — injected staleness (1/13 of reads, 1..3 versions
    behind) produces all four classes on this trace.

    See audit_session_guarantees / derive_session_trace for the audit
    contract and the scale story (two uniform-key exchanges, fixed-width
    shuffle payload)."""
    return audit_session_guarantees(derive_session_trace(spark, sf_dir))
