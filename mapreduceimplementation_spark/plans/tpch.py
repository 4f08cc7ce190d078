"""Relational analytics plans (SURVEY.md §2 B1–B6).

These are the queries a MapReduce user graduates to once the engine
generalizes (the reference's wc/indexer are both one-shuffle groupBy-aggs;
these add joins, windows, and semi-joins).  Plan-shape goals at 100 TB:
bounded dims (region, nation) broadcast; fact-fact joins shuffle on join
keys with AQE skew handling; aggregates are partial (map-side combine);
scans carry PushedFilters + pruned ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.functions.stable import (
    davg,
    half_away,
    round6,
    dsum,
    sql_davg,
    sql_half_away,
    sql_round6,
    sql_dsum,
)
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.session import spread
from mapreduceimplementation_spark.sources.tables import load_table


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass scan + one shuffle on a tiny key space.
    The shipdate predicate reaches the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # spread(): the 7-decimal-sum partial aggregate runs in the scan
    # stage; a single-row-group local file would serialize it onto one
    # core (no-op on real multi-split scans — see session.spread)
    fl = spread(
        li.where(
            F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
        ),
        spark,
    )
    return (
        fl.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey, revenue, o_orderdate, o_orderpriority
    FROM (
        SELECT o_orderkey,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               any_value(o_orderdate) AS o_orderdate,
               any_value(o_orderpriority) AS o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY o_orderkey
    )
    QUALIFY row_number() OVER (ORDER BY revenue DESC, o_orderkey) <= 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filter → join → agg → top-k.  Decimal-exact revenue
    makes the top-k ordering engine-independent; top-k via
    orderBy().limit(10) → TakeOrderedAndProject (per-partition bounded
    heaps, then a 10-row merge on the driver — never a global sort)."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    agg = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.first("o_orderdate").alias("o_orderdate"),
            F.first("o_orderpriority").alias("o_orderpriority"),
        )
    )
    # Top-k via orderBy().limit(k): compiles to TakeOrderedAndProject —
    # per-partition top-10 heaps + a 10-row driver merge.  The window
    # formulation would move every aggregated row to ONE partition (tens of
    # millions of rows at 100 TB); this shape never does.
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join.  region+nation are provably bounded →
    explicit broadcast; the customer⋈orders⋈lineitem chain shuffles on
    keys with AQE free to reorder/skew-split."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    )
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register(
    "top_customers_per_nation",
    oracle="""
    SELECT n_name, rank, c_name, c_acctbal
    FROM (
        SELECT n_name,
               CAST(row_number() OVER (
                   PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey
               ) AS BIGINT) AS rank,
               c_name, c_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    WHERE rank <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k per group: one shuffle on the partition key; nation
    broadcast.  c_acctbal is stored data (not a computed float) so ordering
    is engine-stable with the custkey tie-break."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("n_name", "rank", "c_name", "c_acctbal")
    )


@register(
    "part_type_share",
    oracle=f"""
    SELECT p_brand,
           count(*) AS n_parts,
           {sql_dsum('p_retailprice')} AS total_price,
           {sql_round6('''CAST(SUM(CAST(CASE WHEN p_type IN ('PROMO','ECONOMY')
                       THEN p_retailprice ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(SUM(CAST(p_retailprice AS DECIMAL(27,6))) AS DOUBLE)''')} AS promo_share
    FROM part
    GROUP BY p_brand
    """,
)
def part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q14 shape) — CASE inside exact sums,
    share computed on the exact values then rounded once."""
    part = load_table(spark, sf_dir, "part").select("p_brand", "p_type", "p_retailprice")
    promo = F.when(
        F.col("p_type").isin("PROMO", "ECONOMY"), F.col("p_retailprice")
    ).otherwise(F.lit(0.0))
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        dsum("p_retailprice").alias("total_price"),
        round6(dsum(promo) / dsum("p_retailprice")).alias("promo_share"),
    )


@register(
    "order_priority_count",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (no fact duplication,
    no distinct needed) then a tiny-key aggregate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# B25. basket_pairs

_BASKET_CAP = 50  # skew guard: a degenerate mega-basket would emit cap² pairs
_BASKET_TOPN = 20


@register(
    "basket_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), sized AS (
        SELECT l_orderkey FROM items GROUP BY l_orderkey
        HAVING count(*) BETWEEN 2 AND {_BASKET_CAP}
    ), p AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        JOIN sized s ON s.l_orderkey = a.l_orderkey
    )
    SELECT part_a, part_b, count(*) AS n_orders
    FROM p GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {_BASKET_TOPN}
    """,
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part pairs most often
    bought in the same order — the canonical MapReduce co-occurrence
    workload ("people also bought"), the join-free pair-counting shape
    the reference's generic Map/Reduce API exists for.

    Scale shape: ONE exchange on l_orderkey builds each order's distinct
    part set via partial-agg collect_set; pairs are expanded row-local
    from the set (the in-bucket pair-expansion rule — a self-join of the
    items relation would shuffle it twice); baskets above _BASKET_CAP are
    dropped BEFORE expansion (a degenerate mega-basket would emit cap-squared
    pairs — the classic co-occurrence skew bomb, bounded by policy and
    documented in the output contract); the pair count partial-aggregates
    on (part_a, part_b) and the final top-20 is TakeOrderedAndProject
    (per-partition heaps, 20-row driver merge) with full (count, a, b)
    tie-break determinism."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .where((F.size("parts") >= 2) & (F.size("parts") <= _BASKET_CAP))
        .select(F.array_sort("parts").alias("parts"))
    )
    ps = F.col("parts")
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size(ps) - 1),
                    lambda i: F.transform(
                        F.slice(ps, i + 1, F.size(ps) - i),
                        lambda y: F.struct(
                            F.element_at(ps, i).alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(_BASKET_TOPN)
    )


# ---------------------------------------------------------------------------
# B27. q18_large_orders

_Q18_QTY = 250
_Q18_TOPN = 20


@register(
    "q18_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > {_Q18_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT {_Q18_TOPN}
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (Large Volume Customer): orders whose total quantity
    exceeds a threshold, with their customers, top-20 by order value —
    the HAVING-subquery shape where a fact table filters itself by its
    own aggregate before joining upward.

    Scale shape: the quantity rollup partial-aggregates lineitem on its
    natural key and the HAVING filter reduces it to a tiny order-id set
    BEFORE any join — AQE sees the post-filter size at runtime and
    broadcasts it into both subsequent joins (this is the query pattern
    adaptive planning exists for: a static planner sees only the
    pre-filter estimate).  Quantities are integral doubles; summing them
    as BIGINT makes the HAVING frontier exact on any partitioning.
    Top-20 is TakeOrderedAndProject on the stored (not aggregated)
    o_totalprice with an orderkey tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > _Q18_QTY)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(_Q18_TOPN)
    )


# ---------------------------------------------------------------------------
# B32. q7_volume_shipping

_Q7_NATION_A = "NATION_3"
_Q7_NATION_B = "NATION_8"


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = '{_Q7_NATION_A}' AND n2.n_name = '{_Q7_NATION_B}')
            OR (n1.n_name = '{_Q7_NATION_B}' AND n2.n_name = '{_Q7_NATION_A}'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (Volume Shipping): bilateral trade revenue between two
    nations by ship year — the deepest join chain in the surface
    (lineitem joins up through supplier AND down through orders to
    customer, with the nation dim applied on both ends).

    Scale shape: the nation predicate is applied to supplier and
    customer BEFORE they touch any fact table (broadcast the 25-row
    nation dim into each), so the fact joins see pre-shrunk build sides
    — supplier is bounded and the 2-of-25-nations customer subset is a
    runtime-sized AQE broadcast candidate; the shipdate range reaches the
    lineitem scan as a PushedFilter; the final aggregate has a tiny
    (nation, nation, year) key space with map-side partial agg.  Revenue
    sums as exact DECIMAL (order-independent at any partitioning)."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    two = nation.where(F.col("n_name").isin(_Q7_NATION_A, _Q7_NATION_B))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(two), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(two), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    # half-open [1995-01-01, 1997-01-01): the repo-wide timestamp-bound
    # convention (see q8/q6/q15) — an inclusive BETWEEN on a timestamp
    # column silently truncates the last day to its 00:00 instant
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# B33. q10_returned_items

_Q10_TOPN = 20


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT {_Q10_TOPN}
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (Returned Item Reporting): customers who returned the
    most revenue in a quarter, top-20 — the "who should support call
    first" report.

    Scale shape: both fact filters (orderdate quarter, returnflag='R')
    are PushedFilters into their scans, shrinking the join inputs ~25x
    before the orderkey shuffle; the aggregate partial-aggregates on
    c_custkey before the final exchange; nation is a broadcast dim on the
    aggregated (customer-sized) relation, not on facts; top-20 is
    TakeOrderedAndProject with rounded-decimal revenue + custkey
    tie-break so the frontier is engine- and partitioning-stable."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .agg(dsum(revenue).alias("revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(_Q10_TOPN)
    )


# ---------------------------------------------------------------------------
# B34. q22_missed_opportunities

# "Lapsed" = no order on/after this date (the generator gives every
# customer at least one lifetime order, so the classic never-ordered
# predicate would be vacuously empty on this schema).
_Q22_RECENT = "2000-06-01 00:00:00"


@register(
    "q22_missed_opportunities",
    oracle=f"""
    WITH thr AS (
        SELECT {sql_davg('c_acctbal')} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name,
           count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{_Q22_RECENT}'
      )
    GROUP BY n_name
    """,
)
def q22_missed_opportunities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (Global Sales Opportunity): per nation, the count
    and total balance of above-average-balance customers with no recent
    order — the scalar-subquery + anti-join pattern (the reference's
    surface has semi-joins via B6; this is the NOT EXISTS dual).

    Scale shape: the global average is a one-row aggregate joined in as
    a broadcast nested-loop (a scalar, not a shuffle); "no recent order"
    is a LEFT ANTI join against orders filtered by a pushed orderdate
    predicate and pruned to the o_custkey column (partial-distinct
    shrinks it map-side); nation is a broadcast dim.  The threshold is
    the exact decimal mean rounded to 6dp — an unrounded double mean
    would depend on summation order and could flip frontier customers
    between runs (the davg discipline from B1)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    thr = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(_Q22_RECENT).cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = cust.join(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("avg_bal"))
    never = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        never.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# B35. q14_promo_revenue


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT
        {sql_round6('''100.0
          * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                     AS DECIMAL(27,6))) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(27,6))) AS DOUBLE)''')} AS promo_revenue_pct,
        count(*) AS n_lines,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
             AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (Promotion Effect): the share of one month's revenue
    attributable to promotional parts — B5 computes this share on the
    part dim alone; this is the real Q14 shape where the share lives on
    the FACT table and the part type arrives by join.

    Scale shape: the one-month shipdate range is a PushedFilter (reads
    ~1/80 of lineitem's partitions on a date-partitioned lake); part is
    pruned to (p_partkey, p_type) — a two-column build side AQE sizes at
    runtime (smaller than lineitem by the fanout factor, broadcast when
    it fits, shuffle-hash otherwise); the global aggregate is a one-row
    partial agg, and both sums accumulate exact DECIMAL before the final
    double division + 6dp round (the conditional-share discipline of
    B5)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            round6(100.0 * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
            dsum(rev).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# B37. q6_forecast_revenue


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (Forecasting Revenue Change): the minimal scan-aggregate
    — no join, no group key, three conjunctive predicates and one sum.

    Scale shape: this is the pushdown exhibit.  All three predicates
    (shipdate range, discount band, quantity cap) are PushedFilters into
    the parquet scan and the ReadSchema is pruned to the four touched
    columns, so at 100 TB the scan does row-group skipping on shipdate
    min/max stats and never materializes untouched columns.  The
    aggregate is a one-row partial agg (map-side combine, 32 partials →
    one row); revenue accumulates exact DECIMAL so the single output row
    is bit-stable at any partitioning.  The discount band compares
    doubles against the same literals in both engines — identical IEEE
    constants, identical frontier."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_extendedprice", "l_discount")
    return spread(li, spark).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# B38. q13_customer_distribution


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (Customer Distribution): how many customers placed k
    orders — INCLUDING the zero-order customers, which is why the filter
    must live in the join condition, not a WHERE (a where-filter after
    the outer join would silently drop the c_count=0 bucket).

    Scale shape: the only customer-keyed exchange carries (c_custkey,
    o_orderkey) pairs; count partial-aggregates map-side.  The second
    aggregation's key space is the order-count domain (tiny, bounded by
    max orders per customer) — a two-stage shrink from fact volume to a
    dozen rows.  Left-join skew on popular customers is AQE's skew-join
    case; the key is the customer primary key so fanout equals that
    customer's order count, bounded by data model not corpus size."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# B39. q15_top_supplier


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_half_away(sql_dsum('l_extendedprice * (1 - l_discount)'), 2)}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (Top Supplier): the supplier(s) whose quarter revenue
    equals the maximum — an aggregate compared against an aggregate of
    itself (the reference formulation is a view used twice).

    Scale shape: one pushed-filter scan aggregates per supplier (key
    space = supplier cardinality, bounded dim); the max rides back as a
    ONE-ROW broadcast equi-join rather than a single-partition window
    over the aggregate (the same aggregate feeds both sides, so Spark
    reuses the exchange).  Revenue is rounded-decimal BEFORE the
    equality — comparing raw double sums for equality would make "ties
    with the max" partitioning-dependent; rounded at 2dp the tie set is
    engine-exact.  Supplier joins broadcast on the bounded dim."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            half_away(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
        # bounded by supplier cardinality; feeds BOTH the max and the
        # equi-join probe — pinned so lineitem is scanned exactly once
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# B40. q17_small_quantity

_Q17_BRAND = "Brand#23"


@register(
    "q17_small_quantity",
    oracle=f"""
    SELECT {sql_half_away('CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0', 2)} AS avg_yearly,
           count(*) AS n_lines
    FROM (
        SELECT l_extendedprice, l_quantity,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6)))
                        OVER (PARTITION BY l_partkey) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY l_partkey) AS part_avg_qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = '{_Q17_BRAND}'
    )
    WHERE l_quantity < 0.2 * part_avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (Small-Quantity-Order Revenue): lineitems whose quantity
    is under 20% of their part's average — the canonical correlated
    scalar subquery, decorrelated into a per-part window.

    Scale shape: the brand predicate shrinks part ~27x BEFORE the fact
    join (broadcast build side); the correlated `avg(l_quantity) where
    same part` becomes ONE window over l_partkey on the already-filtered
    fact rows — a single exchange whose per-group size is the part's
    lineitem fanout (bounded by the data model, not corpus size), instead
    of a second scan + self-join.  The window average is decimal-exact
    (sum DECIMAL / count) so the 0.2x threshold is the same IEEE double
    in both engines; the final one-row sum is DECIMAL with round-at-2dp."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == _Q17_BRAND
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    flagged = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn(
            "part_avg_qty",
            (
                F.sum(F.col("l_quantity").cast("decimal(27,6)")).over(w).cast("double")
                / F.count(F.lit(1)).over(w)
            ),
        )
        .where(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
    )
    return flagged.agg(
        half_away(
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# B41. q19_discounted_revenue

_Q19_ARMS = (
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#34", 1, 15, 20, 30),
)


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT COALESCE({sql_dsum('l_extendedprice * (1 - l_discount)')}, 0.0)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (Discounted Revenue): an OR of three conjunct arms
    spanning BOTH sides of a join — the disjunctive-pushdown exhibit.

    Scale shape: Catalyst cannot push a cross-table OR into either scan,
    so we pre-apply each side's DISJUNCTIVE HULL ourselves: part gets
    `p_brand IN (three brands) AND p_size BETWEEN 1 AND 15` (pushed,
    shrinks the build side ~10x), lineitem gets `l_quantity BETWEEN 1
    AND 30` (pushed, row-group skipping).  The exact OR survives as the
    residual join filter over the pre-shrunk inputs.  Hand-deriving the
    hull is the documented pattern for OR-of-ANDs at scale — the
    difference between scanning 100 TB and scanning the hull's slice."""
    brands = sorted({a[0] for a in _Q19_ARMS})
    max_size = max(a[2] for a in _Q19_ARMS)
    min_qty = min(a[3] for a in _Q19_ARMS)
    max_qty = max(a[4] for a in _Q19_ARMS)
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin(brands) & F.col("p_size").between(1, max_size)
    ).select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(min_qty, max_qty)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    arm = None
    for brand, lo_sz, hi_sz, lo_q, hi_q in _Q19_ARMS:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(lo_sz, hi_sz)
            & F.col("l_quantity").between(lo_q, hi_q)
        )
        arm = cond if arm is None else (arm | cond)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(arm)
        .agg(
            F.coalesce(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.lit(0.0),
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# B42. q8_market_share

_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_2"
_Q8_TYPE = "ECONOMY"


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_round6(sql_dsum('nation_volume') + ' / ' + sql_dsum('volume'))}
               AS mkt_share,
           {sql_dsum('volume')} AS region_volume
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               CASE WHEN n2.n_name = '{_Q8_NATION}'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE 0.0 END AS nation_volume
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = '{_Q8_REGION}'
          AND p_type = '{_Q8_TYPE}'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (National Market Share): of the revenue one region's
    customers spent on one part type, what fraction came from suppliers
    of one nation, by order year — the widest star join in the surface
    (part, supplier, orders, customer, nation twice, region).

    Scale shape: every dimension is filtered and SHRUNK before touching
    the fact — part by type (~1/6, broadcast), customer by region via
    nation⋈region (~1/5, AQE-sized), supplier carries its nation name
    from a 25-row broadcast; orders is date-banded (pushed).  The fact
    chain shuffles on its natural keys; the share is a conditional
    decimal sum over the SAME joined relation (no second pass, the B5
    discipline lifted through a 7-table join) and rounds at 6dp so the
    per-year ratio is partitioning-stable."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == _Q8_REGION
    )
    cust_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == _Q8_TYPE
    ).select("p_partkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.when(F.col("supp_nation") == _Q8_NATION, volume)
            .otherwise(F.lit(0.0))
            .alias("nation_volume"),
        )
    )
    return joined.groupBy("o_year").agg(
        round6(dsum("nation_volume") / dsum("volume")).alias("mkt_share"),
        dsum("volume").alias("region_volume"),
    )


# ---------------------------------------------------------------------------
# B43. q9_product_profit

_Q9_NAME_FRAGMENT = "widget"


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum('amount')} AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%{_Q9_NAME_FRAGMENT}%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (Product Type Profit, adapted: the testdata ships
    no partsupp, so profit is discounted revenue rather than revenue
    minus supplycost): per supplier nation per order year, profit on
    parts whose name contains a fragment.

    Scale shape: the substring predicate on p_name cannot use stats, but
    it runs on the PART dim (corpus/fanout smaller than the fact) and
    the survivors broadcast into lineitem — the fact table never
    evaluates a LIKE.  Supplier rides its 25-row nation broadcast;
    orders joins shuffle on orderkey contributing only (orderkey, year).
    The final key space (nation x year) is tiny with map-side partials;
    decimal-exact sums round-trip bit-stable."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(_Q9_NAME_FRAGMENT)
    ).select("p_partkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("nation", "o_year", amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(dsum("amount").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# B47. customer_balance_deciles

_NTILE_N = 10


@register(
    "customer_balance_deciles",
    oracle=f"""
    WITH ranked AS (
        SELECT c_custkey, c_acctbal,
               ntile({_NTILE_N}) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(min(c_acctbal), 2) AS lo,
           ROUND(max(c_acctbal), 2) AS hi,
           {sql_davg('c_acctbal')} AS avg_bal
    FROM ranked
    GROUP BY decile
    """,
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account-balance deciles: NTILE(10) bucket boundaries,
    sizes, and means — the equal-population banding report (credit
    tiers, spend segments), and the distribution-function window family
    (ntile) the surface's row_number/lag windows don't cover.

    Scale shape: a naive ntile() window with no PARTITION BY collapses
    the whole input into ONE partition — so the bucket id is instead
    DERIVED from A5's distributed global rank (range exchange +
    per-partition row_number + broadcast offsets; no single-partition
    stage) with NTILE's uneven-division arithmetic applied row-local:
    with T rows, q = T div N, r = T mod N, the first r buckets take q+1
    rows — exactly the SQL NTILE contract, reproduced from (rank, T)
    with integer ops.  The decile rollup then partial-aggregates on a
    10-key space.  Determinism: NTILE splits ties by position, so the
    order must be total — the c_custkey tie-break makes bucket
    membership engine-exact (ORDER BY c_acctbal alone would leave equal
    balances straddling a boundary in engine-dependent order); decile
    means are decimal-exact, bounds rounded at 2dp."""
    from mapreduceimplementation_spark.operators.mrcore import distributed_ntile

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = distributed_ntile(
        cust, [F.col("c_acctbal").asc(), F.col("c_custkey").asc()], _NTILE_N
    ).select("c_acctbal", F.col("bucket").alias("decile"))
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
        davg("c_acctbal").alias("avg_bal"),
    )


# ---------------------------------------------------------------------------
# B50. basket_rules


@register(
    "basket_rules",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), sized AS (
        SELECT l_orderkey FROM items GROUP BY l_orderkey
        HAVING count(*) BETWEEN 2 AND {_BASKET_CAP}
    ), qitems AS (
        SELECT i.l_orderkey, i.l_partkey FROM items i
        JOIN sized s ON s.l_orderkey = i.l_orderkey
    ), nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM sized),
    isup AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
        FROM qitems GROUP BY l_partkey
    ), p AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM qitems a JOIN qitems b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), top AS (
        SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_ab
        FROM p GROUP BY part_a, part_b
        ORDER BY n_ab DESC, part_a, part_b
        LIMIT {_BASKET_TOPN}
    )
    SELECT part_a, part_b, n_ab,
           sa.n_item AS n_a, sb.n_item AS n_b,
           {sql_round6('n_ab * 1.0 / n_baskets')} AS support,
           {sql_round6('n_ab * 1.0 / sa.n_item')} AS confidence_a_b,
           {sql_round6('n_ab * 1.0 * n_baskets / (sa.n_item * sb.n_item)')} AS lift
    FROM top
    JOIN isup sa ON sa.l_partkey = part_a
    JOIN isup sb ON sb.l_partkey = part_b
    CROSS JOIN nb
    """,
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics for the top co-occurring part pairs:
    support, confidence(a→b), and lift — the step after B25's raw
    counts that turns co-occurrence into recommendations ("people who
    bought A also bought B" needs lift > 1, not just a big pair count:
    two independently-popular parts co-occur often by chance alone).

    Scale shape: the qualifying-basket relation is built ONCE on the
    l_orderkey exchange and localCheckpoint'ed — it feeds three
    consumers (pair expansion, per-item supports, the basket total) that
    would each re-derive the scan+distinct lineage otherwise.  Pair
    counting is B25's row-local in-basket expansion with the same
    _BASKET_CAP skew guard; item supports are a second bounded-key
    partial agg; the 20 winning pairs then join the item supports and
    the ONE-ROW total as broadcasts.  Counts are exact integers; the
    three ratios are single divisions rounded at 6dp."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .where((F.size("parts") >= 2) & (F.size("parts") <= _BASKET_CAP))
        .select(F.array_sort("parts").alias("parts"))
        .localCheckpoint()
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    isup = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    ps = F.col("parts")
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size(ps) - 1),
                    lambda i: F.transform(
                        F.slice(ps, i + 1, F.size(ps) - i),
                        lambda y: F.struct(
                            F.element_at(ps, i).alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    top = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(_BASKET_TOPN)
    )
    sa = isup.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    sb = isup.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        top.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .join(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            round6(F.col("n_ab") / F.col("n_baskets")).alias("support"),
            round6(F.col("n_ab") / F.col("n_a")).alias("confidence_a_b"),
            # promote to double BEFORE multiplying: long*long products
            # (n_ab*n_baskets, n_a*n_b) overflow BIGINT silently at the
            # ~1e10-basket counts this operator targets; the oracle's
            # `n_ab * 1.0 * n_baskets` form avoids it the same way
            round6(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# B52-B55. The partsupp TPC-H family (Q2, Q11, Q16, Q20)
#
# The driver testdata carries no partsupp table, so these four canonical
# query SHAPES (correlated min subquery, HAVING over a global share,
# distinct-count anti-join, nested semi-join chain) were previously
# unreachable.  partsupp is therefore SYNTHESIZED deterministically from
# (part x {0..3}) with md5-derived supplier choice, availqty, and supply
# cost — the same engine-portable hash64 every probabilistic operator uses,
# so Spark and the DuckDB oracle derive BIT-IDENTICAL tables and the query
# logic above them is fully value-checked.  Costs live as integer CENTS so
# every min/sum/threshold comparison is exact in both engines; hash
# collisions inside the 4 draws are collapsed by DISTINCT (a part has 2-4
# suppliers — TPC-H's own partsupp has exactly 4).

_PS_QTY_MOD = 9_999  # availqty in 1..9999 (TPC-H domain)
_PS_COST_MOD = 99_900  # cost cents in 100..99999 -> $1.00..$999.99


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: (ps_partkey, ps_suppkey, ps_availqty,
    ps_cost_cents).  Supplier choice hashes (partkey, draw i); qty/cost
    hash (partkey, suppkey) so collided draws agree and DISTINCT collapses
    them.  The supplier count rides a one-row broadcast (the bounded-BNLJ
    pattern Q22 documents); the result is dim-sized (4x part) — at scale
    this relation would be a real table, and every query below treats it
    as one (filter-then-broadcast, never fact-sized)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = load_table(spark, sf_dir, "supplier").agg(
        F.count(F.lit(1)).alias("s_cnt")
    )
    cand = (
        part.select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .join(F.broadcast(s_cnt))
        # no suppliers -> no partsupp rows (hash % 0 would yield NULL
        # ps_suppkey rows that every downstream join silently drops or,
        # worse, keeps as a NULL group) — the empty-dims edge is pinned
        # by tests/test_empty_inputs.py
        .where(F.col("s_cnt") > 0)
    )
    sk = (
        hash64(
            F.concat(
                F.lit("ps-s"),
                F.col("ps_partkey").cast("string"),
                F.lit("/"),
                F.col("i").cast("string"),
            )
        )
        % F.col("s_cnt")
    )
    keyed = cand.select("ps_partkey", sk.alias("ps_suppkey"))
    pk_sk = F.concat(
        F.col("ps_partkey").cast("string"),
        F.lit(":"),
        F.col("ps_suppkey").cast("string"),
    )
    return keyed.select(
        "ps_partkey",
        "ps_suppkey",
        (1 + hash64(pk_sk, salt="ps-q") % _PS_QTY_MOD).alias("ps_availqty"),
        (100 + hash64(pk_sk, salt="ps-c") % _PS_COST_MOD).alias("ps_cost_cents"),
    ).distinct()


_PS_SK_H = sql_hash64(
    "'ps-s' || CAST(p_partkey AS VARCHAR) || '/' || CAST(i AS VARCHAR)"
)
_PS_KEY = "CAST(ps_partkey AS VARCHAR) || ':' || CAST(ps_suppkey AS VARCHAR)"
_PS_Q_H = sql_hash64(f"'ps-q' || {_PS_KEY}")
_PS_C_H = sql_hash64(f"'ps-c' || {_PS_KEY}")

#: shared oracle CTE: `WITH {_PARTSUPP_SQL}, ...` exposes `partsupp`
_PARTSUPP_SQL = f"""
    sc AS (SELECT CAST(count(*) AS BIGINT) AS s_cnt FROM supplier),
    ps_keyed AS (
        SELECT p_partkey AS ps_partkey,
               ({_PS_SK_H} % s_cnt) AS ps_suppkey
        FROM part
        CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
        CROSS JOIN sc
        WHERE s_cnt > 0
    ),
    partsupp AS (
        SELECT DISTINCT ps_partkey, ps_suppkey,
               1 + ({_PS_Q_H} % {_PS_QTY_MOD}) AS ps_availqty,
               100 + ({_PS_C_H} % {_PS_COST_MOD}) AS ps_cost_cents
        FROM ps_keyed
    )
"""


# ---------------------------------------------------------------------------
# B52. q2_min_cost_supplier

_Q2_REGION = "EUROPE"
_Q2_TYPE = "STANDARD"
_Q2_SIZE_MIN = 40
_Q2_TOPN = 100


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    region_ps AS (
        SELECT ps_partkey, ps_suppkey, ps_cost_cents,
               s_acctbal, s_name, n_name
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = '{_Q2_REGION}'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, p_type,
           ROUND(ps_cost_cents / 100.0, 2) AS supplycost
    FROM region_ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_type = '{_Q2_TYPE}' AND p_size >= {_Q2_SIZE_MIN}
      AND ps_cost_cents = (
          SELECT min(i.ps_cost_cents) FROM region_ps i
          WHERE i.ps_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT {_Q2_TOPN}
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (Minimum Cost Supplier): for each qualifying part, the
    region's supplier(s) offering it at the region's minimum supply cost —
    the CORRELATED-MIN-SUBQUERY shape, decorrelated.

    Scale shape: the part filter (type + size band) shrinks part ~27x and
    is applied FIRST — the correlated min is then a window over
    ps_partkey on the part-filtered, region-filtered partsupp only (one
    bounded exchange; never a min over the full partsupp).  Supplier ⋈
    nation ⋈ region is a broadcast chain (dims).  Cost lives in integer
    cents, so the min-equality frontier is exact in both engines — a
    double supplycost would flip ties between partitionings.  Total
    order (acctbal desc, nation, name, partkey) before the top-100 cut;
    s_name is unique so the cut is deterministic."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") >= _Q2_SIZE_MIN)
        )
        .select("p_partkey", "p_brand", "p_type")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == _Q2_REGION
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    ps = (
        synth_partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("ps_partkey")
    best = ps.withColumn("min_cents", F.min("ps_cost_cents").over(w)).where(
        F.col("ps_cost_cents") == F.col("min_cents")
    )
    return (
        best.select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "p_type",
            F.round(F.col("ps_cost_cents") / 100.0, 2).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(_Q2_TOPN)
    )


# ---------------------------------------------------------------------------
# B53. q11_important_stock

# NATION_12 has suppliers at every driver scale factor (sf0.001's 10
# suppliers cover only 10 of the 25 nations — NATION_7 was empty there,
# making q11 vacuous at the determinism gate's sf).
_Q11_NATION = "NATION_12"
_Q11_SCALE = 300  # keep parts whose stock value * SCALE > national total


@register(
    "q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    national AS (
        SELECT ps_partkey,
               CAST(SUM(ps_cost_cents * ps_availqty) AS BIGINT) AS value_cents
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = '{_Q11_NATION}'
        GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_cents,
           ROUND(value_cents / 100.0, 2) AS value
    FROM national
    WHERE value_cents * {_Q11_SCALE} >
          (SELECT CAST(SUM(value_cents) AS BIGINT) FROM national)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (Important Stock Identification): parts whose stock value
    held by one nation's suppliers exceeds a fraction of that nation's
    total — the HAVING-over-a-GLOBAL-SHARE shape.

    Scale shape: the nation's suppliers are a broadcast (dim join shrinks
    partsupp ~25x before any exchange); per-part value is one partial-agg
    exchange on ps_partkey; the global total aggregates the AGGREGATED
    relation (part-count-sized) into a one-row broadcast that joins back
    as a bounded BNLJ.  The threshold is the exact integer comparison
    value*{_Q11_SCALE} > total — no float fraction, so frontier parts
    cannot flip between engines or partitionings (the Q22 lesson applied
    to Q11's 0.0001-fraction HAVING)."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == _Q11_NATION
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    national = (
        synth_partsupp(spark, sf_dir)
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_cost_cents") * F.col("ps_availqty")).alias(
                "value_cents"
            )
        )
        .localCheckpoint(eager=False)
    )
    total = national.agg(F.sum("value_cents").alias("total_cents"))
    return (
        national.join(F.broadcast(total))
        .where(F.col("value_cents") * _Q11_SCALE > F.col("total_cents"))
        .select(
            "ps_partkey",
            "value_cents",
            F.round(F.col("value_cents") / 100.0, 2).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# B54. q16_parts_supplier_relationship

_Q16_BRAND = "Brand#22"
_Q16_TYPE = "PROMO"
_Q16_SIZES = (3, 9, 14, 19, 23, 36, 45, 49)
_Q16_FLAG_EVERY = 10  # 1/10 of suppliers are complaint-flagged (hash-chosen)


@register(
    "q16_parts_supplier_relationship",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    flagged AS (
        SELECT s_suppkey FROM supplier
        WHERE ({sql_hash64("'cmpl' || CAST(s_suppkey AS VARCHAR)")}
               % {_Q16_FLAG_EVERY}) = 0
    )
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> '{_Q16_BRAND}'
      AND p_type <> '{_Q16_TYPE}'
      AND p_size IN {_Q16_SIZES}
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM flagged)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (Parts/Supplier Relationship): how many distinct
    suppliers can provide each (brand, type, size) combination, excluding
    one brand, one type, and complaint-flagged suppliers — the
    DISTINCT-COUNT + ANTI-JOIN shape.  (The testdata supplier table has
    no s_comment, so the reference's '%Customer%Complaints%' LIKE becomes
    a hash-chosen 1/{_Q16_FLAG_EVERY} supplier subset — same anti-join,
    deterministic in both engines.)

    Scale shape: the part filters (two <> + size IN-list) prune part
    before the broadcast into partsupp; the flagged-supplier set is a
    LEFT ANTI against a dim-sized broadcast; COUNT(DISTINCT supplier) is
    Spark's two-phase distinct expand on the tiny (brand, type, size)
    key — exchange bounded by true (cell x supplier) pairs, never raw
    partsupp volume."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != _Q16_BRAND)
        & (F.col("p_type") != _Q16_TYPE)
        & (F.col("p_size").isin(*_Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .where(
            hash64(F.col("s_suppkey").cast("string"), salt="cmpl")
            % _Q16_FLAG_EVERY
            == 0
        )
        .select("s_suppkey")
    )
    ps = (
        synth_partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(flagged),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return ps.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt")
    )


# ---------------------------------------------------------------------------
# B55. q20_potential_promotion

_Q20_NATION = "NATION_19"  # non-empty at every driver sf (sf0.001 covers only 10 of 25 nations)
_Q20_PREFIX = "small"
# two shipping years: the testdata's lineitem spreads (partkey, suppkey)
# pairs thinly, and a 1-year window leaves the nation cut with ~1 supplier
_Q20_YEAR_LO = "1996-01-01 00:00:00"
_Q20_YEAR_HI = "1998-01-01 00:00:00"


@register(
    "q20_potential_promotion",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    shipped AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_Q20_YEAR_LO}'
          AND l_shipdate <  TIMESTAMP '{_Q20_YEAR_HI}'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = '{_Q20_NATION}'
      AND s_suppkey IN (
          SELECT ps_suppkey
          FROM partsupp
          JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          WHERE ps_partkey IN (
                SELECT p_partkey FROM part
                WHERE p_name LIKE '{_Q20_PREFIX}%')
            AND ps_availqty * 2 > sum_qty)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (Potential Part Promotion): suppliers in one nation whose
    stock of name-prefixed parts exceeds half of what they shipped in a
    year — the NESTED SEMI-JOIN CHAIN (IN inside IN with a correlated
    aggregate).

    Scale shape, inside-out: the year's shipments collapse in ONE
    partial-agg exchange on (l_partkey, l_suppkey) — the only fact-sized
    step, with the date range pushed to the scan; the part prefix filter
    runs on the dim and broadcasts as a LEFT SEMI into partsupp; the
    surplus test availqty*2 > sum_qty is exact integer arithmetic
    (quantities are integral); qualifying supplier keys collapse to a
    DISTINCT dim-sized set that LEFT SEMI-joins the nation's suppliers.
    Nothing fact-sized is ever joined to anything fact-sized."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q20_YEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q20_YEAR_HI).cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty")
    )
    pfx = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").startswith(_Q20_PREFIX))
        .select("p_partkey")
    )
    qualifying = (
        synth_partsupp(spark, sf_dir)
        .join(
            F.broadcast(pfx),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") * 2 > F.col("sum_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == _Q20_NATION
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            qualifying, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# B56-B57. The commit/receipt-date TPC-H family (Q12, Q21)
#
# The driver's lineitem has no l_commitdate / l_receiptdate / l_shipmode,
# so the two canonical shapes that need them (Q12's late-line CASE rollup,
# Q21's multi-correlated-EXISTS) were unreachable.  Both columns are
# SYNTHESIZED per lineitem from hash64(l_orderkey, l_linenumber):
# commit = ship + (-30..+30) days, receipt = ship + (1..30) days — every
# ordering of (ship, commit, receipt) occurs, so the late-line predicates
# select genuine mixes.  All date algebra runs in integer MICROSECONDS
# (day = 86_400_000_000 µs) — no interval/calendar semantics to diverge
# between engines, and the whole derivation is row-local (scan-speed).

_DAY_US = 86_400_000_000
_SHIPMODES = ("MAIL", "SHIP", "RAIL", "TRUCK", "AIR", "FOB", "REG AIR")
_LKEY = "CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR)"

_LDATED_SQL = f"""
    lineitem_dated AS (
        SELECT l_orderkey, l_suppkey,
               CAST(epoch_us(l_shipdate) AS BIGINT) AS ship_us,
               CAST(epoch_us(l_shipdate) AS BIGINT)
                   + (({sql_hash64(f"'cmt' || {_LKEY}")} % 61) - 30)
                     * {_DAY_US} AS commit_us,
               CAST(epoch_us(l_shipdate) AS BIGINT)
                   + (1 + ({sql_hash64(f"'rcp' || {_LKEY}")} % 30))
                     * {_DAY_US} AS receipt_us,
               ['MAIL', 'SHIP', 'RAIL', 'TRUCK', 'AIR', 'FOB', 'REG AIR']
                   [1 + ({sql_hash64(f"'shm' || {_LKEY}")} % 7)] AS l_shipmode
        FROM lineitem
    )
"""


def lineitem_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + synthesized (ship_us, commit_us, receipt_us, l_shipmode)
    — see the family comment.  Row-local, zero shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber", "l_shipdate"
    )
    lkey = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("/"),
        F.col("l_linenumber").cast("string"),
    )
    # l_shipdate reads as TIMESTAMP_NTZ from this testdata generation;
    # unix_micros needs session-tz TIMESTAMP, and callers run under
    # the tuned UTC session so the cast is lossless (the events.ts rule
    # in sources/tables.py applied here)
    ship_us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    return li.select(
        "l_orderkey",
        "l_suppkey",
        ship_us.alias("ship_us"),
        (ship_us + (hash64(lkey, salt="cmt") % 61 - 30) * _DAY_US).alias(
            "commit_us"
        ),
        (ship_us + (1 + hash64(lkey, salt="rcp") % 30) * _DAY_US).alias(
            "receipt_us"
        ),
        F.element_at(
            F.array(*[F.lit(m) for m in _SHIPMODES]),
            (1 + hash64(lkey, salt="shm") % 7).cast("int"),
        ).alias("l_shipmode"),
    )


# ---------------------------------------------------------------------------
# B56. q12_shipping_modes

_Q12_MODES = ("MAIL", "SHIP")
_Q12_LO = "1996-01-01 00:00:00"
_Q12_HI = "1997-01-01 00:00:00"
_Q12_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "q12_shipping_modes",
    oracle=f"""
    WITH {_LDATED_SQL}
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN {_Q12_HIGH}
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN {_Q12_HIGH}
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem_dated
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipmode IN {_Q12_MODES}
      AND commit_us < receipt_us
      AND ship_us < commit_us
      AND receipt_us >= epoch_us(TIMESTAMP '{_Q12_LO}')
      AND receipt_us <  epoch_us(TIMESTAMP '{_Q12_HI}')
    GROUP BY l_shipmode
    """,
)
def q12_shipping_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (Shipping Modes and Order Priority): for two ship modes,
    how many late-committed-but-actually-received lines carried
    high-priority vs low-priority orders in one year — the CASE-rollup
    over a fact-fact join.

    Scale shape: EVERY lineitem predicate (mode IN-list, the two
    inter-date comparisons, the receipt-year band) is row-local on the
    dated scan, shrinking the fact ~97% BEFORE the l_orderkey shuffle
    join to orders; the priority CASE then aggregates on the 2-value
    shipmode key (map-side partials collapse everything).  Integer-µs
    date algebra keeps the late-line frontier engine-exact."""
    lo = F.unix_micros(F.lit(_Q12_LO).cast("timestamp"))
    hi = F.unix_micros(F.lit(_Q12_HI).cast("timestamp"))
    li = lineitem_dated(spark, sf_dir).where(
        F.col("l_shipmode").isin(*_Q12_MODES)
        & (F.col("commit_us") < F.col("receipt_us"))
        & (F.col("ship_us") < F.col("commit_us"))
        & (F.col("receipt_us") >= lo)
        & (F.col("receipt_us") < hi)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin(*_Q12_HIGH)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# B57. q21_waiting_suppliers

_Q21_NATION = "NATION_19"  # non-empty at every driver sf (sf0.001 covers only 10 of 25 nations)


@register(
    "q21_waiting_suppliers",
    oracle=f"""
    WITH {_LDATED_SQL}
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem_dated l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.receipt_us > l1.commit_us
      AND n_name = '{_Q21_NATION}'
      AND EXISTS (
          SELECT 1 FROM lineitem_dated l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem_dated l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.receipt_us > l3.commit_us)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (Suppliers Who Kept Orders Waiting): in finished
    multi-supplier orders, count late lines of suppliers who were the
    ONLY late supplier — the MULTI-CORRELATED-EXISTS shape (one positive,
    one negative, both over the fact).

    Scale shape: both EXISTS decorrelate into ONE per-order aggregate —
    n_supp = countDistinct(suppkey) (the positive EXISTS is n_supp >= 2)
    and n_late_supp = countDistinct(suppkey WHERE late) (the NOT EXISTS
    is n_late_supp == 1, since a late l1's supplier is itself in the late
    set) — so the fact is exchanged ONCE on l_orderkey and every
    subsequent join (order stats, status-F orders) reuses that
    partitioning; the nation's suppliers broadcast into the late-line
    candidates BEFORE the shuffle.  The oracle states both EXISTS
    literally; a green hash certifies the decorrelation."""
    # project to the 3 columns this query consumes BEFORE the checkpoint:
    # localCheckpoint materializes every column it is handed, so the
    # unprojected version paid lineitem_dated's l_shipmode md5 for a
    # column no operator reads (guide §2.3 — and the narrower checkpoint
    # is also what a 100 TB run should pin in memory)
    li = (
        lineitem_dated(spark, sf_dir)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("receipt_us") > F.col("commit_us")).alias("late"),
        )
        .localCheckpoint(eager=False)
    )
    late = F.col("late")
    # both EXISTS as ONE two-level aggregate: distinct (order, supplier)
    # pairs first (map-side combine), then per-order counts — measured
    # ~25% faster than the double count_distinct, whose Expand doubles
    # the fact rows through the first hash aggregate; values identical
    # (n_supp = distinct pairs, n_late_supp = pairs with >= 1 late line)
    stats = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(late, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("sl")
        )
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("sl").alias("n_late_supp"),
        )
    )
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == _Q21_NATION
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    cand = li.where(late).join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        cand.join(stats, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# B61. q4_order_priority — literal TPC-H Q4, completing all 22 shapes

_Q4_LO = "1996-07-01 00:00:00"
_Q4_HI = "1996-10-01 00:00:00"


@register(
    "q4_order_priority",
    oracle=f"""
    WITH {_LDATED_SQL}
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_Q4_LO}'
      AND o_orderdate <  TIMESTAMP '{_Q4_HI}'
      AND EXISTS (
          SELECT 1 FROM lineitem_dated
          WHERE l_orderkey = o_orderkey
            AND commit_us < receipt_us)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (Order Priority Checking), the literal form: orders of one
    quarter with at least one line received after its committed date,
    counted by priority.  B6 (order_priority_count) carries this EXISTS
    shape with a shipdate proxy; the synthesized commit/receipt dates
    (see the lineitem_dated family comment) make the canonical
    `l_commitdate < l_receiptdate` predicate expressible, closing the
    last of the 22 TPC-H shapes.

    Scale shape: the quarter band prunes orders row-local at the scan
    (half-open bounds per the q6/q15 convention); the late predicate is
    row-local on the dated lineitem scan BEFORE the l_orderkey LEFT SEMI
    (no fact duplication, no distinct); the final aggregate collapses on
    the 5-value priority key via map-side partials."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q4_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_HI).cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority")
    late = lineitem_dated(spark, sf_dir).where(
        F.col("commit_us") < F.col("receipt_us")
    ).select("l_orderkey")
    return (
        orders.join(
            late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
