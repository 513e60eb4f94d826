"""Join operator surface (reference §2.F joins, sql/core/.../execution/joins/).

Covers every join type the reference planner could produce —
broadcast-hash (reference joins/BroadcastHashJoin.scala), shuffled-hash
(ShuffledHashJoin.scala), outer (HashOuterJoin.scala), left-semi
(LeftSemiJoinHash.scala), nested-loop theta (BroadcastNestedLoopJoin.scala),
cartesian (CartesianProduct.scala) — plus `left_anti` and pandas-cogroup
as the documented modern superset (anti join was absent in the
reference per SURVEY.md §2.F).

Scale notes: dims are broadcast explicitly; fact-fact joins shuffle on
their keys and rely on AQE skew-join splitting at the 100 TB point.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


@register(
    "join_inner",
    oracle="""
SELECT o_orderpriority, c_mktsegment,
       count(*) AS cnt, round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderpriority, c_mktsegment
ORDER BY o_orderpriority, c_mktsegment
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (reference ShuffledHashJoin/BroadcastHashJoin)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderpriority", "c_mktsegment")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderpriority", "c_mktsegment")
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, count(o_orderkey) AS n_big_orders
FROM customer LEFT JOIN (
    SELECT * FROM orders WHERE o_totalprice > 300000
) o ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (reference HashOuterJoin.scala) — unmatched
    customers keep NULL order side; count(col) skips the NULLs."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
        .orderBy("c_custkey")
    )


@register(
    "join_right_outer",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey
ORDER BY c_custkey
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (reference HashOuterJoin.scala, RightOuter)."""
    cust = load_table(spark, sf_dir, "customer")
    fin = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        fin.join(cust, fin.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    oracle="""
WITH hi_cust AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     hi_ord  AS (SELECT o_custkey, count(*) AS n FROM orders
                 WHERE o_totalprice > 250000 GROUP BY o_custkey)
SELECT coalesce(c_custkey, o_custkey) AS custkey,
       CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS is_rich,
       coalesce(n, 0) AS n_big
FROM hi_cust FULL OUTER JOIN hi_ord ON c_custkey = o_custkey
ORDER BY custkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (reference HashOuterJoin.scala, FullOuter)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    return (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias("is_rich"),
            F.coalesce("n", F.lit(0)).alias("n_big"),
        )
        .orderBy("custkey")
    )


@register(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 350000)
ORDER BY c_custkey
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (reference LeftSemiJoinHash.scala; SQL `LEFT SEMI
    JOIN` keyword in the reference parser SqlParser.scala:106)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
ORDER BY c_custkey
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — beyond-reference superset (absent in the
    reference planner per SURVEY.md §2.F); also the subtractByKey
    equivalent (reference PairRDDFunctions.scala:825)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join (reference BroadcastHashJoin.scala;
    threshold logic SparkStrategies.scala:68-110). nation/region are
    constant-size — broadcast at every SF, no shuffle of the fact side."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "join_theta_nonequi",
    oracle="""
SELECT s_suppkey, count(*) AS n_pricier_parts
FROM supplier JOIN part ON p_retailprice > s_acctbal / 100
GROUP BY s_suppkey ORDER BY s_suppkey
""",
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi theta join (reference
    BroadcastNestedLoopJoin.scala; strategy SparkStrategies.scala:169-183)."""
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    return (
        supp.join(part, part.p_retailprice > supp.s_acctbal / 100)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_pricier_parts"))
        .orderBy("s_suppkey")
    )


@register(
    "join_cartesian",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
ORDER BY r_name, n_name
""",
)
def join_cartesian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (reference CartesianProduct.scala) — only ever
    sane between bounded dims."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name").orderBy(
        "r_name", "n_name"
    )


@register(
    "join_mixed_equi_nonequi",
    oracle="""
SELECT l_orderkey, l_linenumber, p_partkey
FROM lineitem JOIN part
  ON l_partkey = p_partkey AND l_extendedprice > 40 * p_retailprice
ORDER BY l_orderkey, l_linenumber
""",
)
def join_mixed_equi_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with residual non-equi condition — hash join on the
    equi key, residual filter applied post-match (how the reference's
    HashJoin handled `otherPredicates`)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey)
            & (li.l_extendedprice > 40 * part.p_retailprice),
        )
        .select("l_orderkey", "l_linenumber", "p_partkey")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "cogroup_pandas",
    oracle="""
WITH o AS (SELECT o_custkey AS custkey, count(*) AS n_orders,
                  round(sum(o_totalprice), 2) AS total_spent
           FROM orders GROUP BY o_custkey),
     c AS (SELECT c_custkey AS custkey, round(c_acctbal, 2) AS acctbal
           FROM customer)
SELECT coalesce(c.custkey, o.custkey) AS custkey,
       coalesce(o.n_orders, 0)  AS n_orders,
       coalesce(o.total_spent, 0.0) AS total_spent,
       coalesce(c.acctbal, 0.0) AS acctbal
FROM c FULL OUTER JOIN o ON c.custkey = o.custkey
ORDER BY custkey
""",
)
def cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogroup (reference PairRDDFunctions.cogroup :696-803) as a
    pandas cogroup-applyInPandas. Grouped on a HASH BUCKET of the key,
    not the raw key: per-key grouping means one Python call per key
    (measured 8.6s for 1.5k keys at sf0.01 — death at 100 TB where key
    cardinality is millions per partition); per-bucket grouping gives a
    bounded number of Python calls with a vectorized pandas merge
    inside each. Same results, same cogroup semantics — the bucket is
    just the unit of Arrow transfer. This is the general escape hatch
    for per-key logic no SQL construct expresses; here the logic is
    also SQL-expressible so the oracle can check it."""
    n_buckets = 64
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.pmod("o_custkey", F.lit(n_buckets)).alias("b")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.pmod("c_custkey", F.lit(n_buckets)).alias("b")
    )

    def merge(c_pdf: pd.DataFrame, o_pdf: pd.DataFrame) -> pd.DataFrame:
        o_agg = (
            o_pdf.groupby("o_custkey", as_index=False)
            .agg(n_orders=("o_totalprice", "size"), total_spent=("o_totalprice", "sum"))
            .rename(columns={"o_custkey": "custkey"})
        )
        c = c_pdf[["c_custkey", "c_acctbal"]].rename(
            columns={"c_custkey": "custkey", "c_acctbal": "acctbal"}
        )
        m = c.merge(o_agg, on="custkey", how="outer")
        m["custkey"] = m["custkey"].astype("int64")
        m["n_orders"] = m["n_orders"].fillna(0).astype("int64")
        m["total_spent"] = m["total_spent"].fillna(0.0).round(2)
        m["acctbal"] = m["acctbal"].fillna(0.0).round(2)
        return m[["custkey", "n_orders", "total_spent", "acctbal"]]

    out = (
        cust.groupBy("b")
        .cogroup(orders.groupBy("b"))
        .applyInPandas(
            merge,
            schema="custkey long, n_orders long, total_spent double, acctbal double",
        )
    )
    return out.orderBy("custkey")


@register(
    "join_null_safe_eq",
    oracle="""
WITH a AS (
  SELECT nullif(c_nationkey % 7, 3) AS k, count(*) AS n_cust
  FROM customer GROUP BY 1
),
b AS (
  SELECT nullif(s_nationkey % 7, 3) AS k, count(*) AS n_supp
  FROM supplier GROUP BY 1
)
SELECT a.k, a.n_cust, b.n_supp
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY a.k NULLS FIRST
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics a
    dimension join needs when the key is legitimately absent on both
    sides. Plans as a hash join (the null-safe operator is still an
    equi-key for Catalyst), not a nested loop."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    a = cust.groupBy(
        F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("k")
    ).agg(F.count("*").alias("n_cust"))
    b = supp.groupBy(
        F.nullif(F.col("s_nationkey") % 7, F.lit(3)).alias("ks")
    ).agg(F.count("*").alias("n_supp"))
    return (
        a.join(b, a["k"].eqNullSafe(b["ks"]))
        .select("k", "n_cust", "n_supp")
        .orderBy(F.col("k").asc_nulls_first())
    )


@register(
    "basket_part_pairs_top",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
""",
)
def basket_part_pairs_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    bought in the same order. The pair join is an equi-join on the
    order key with fan-out bounded by items-per-order (single digits),
    so the candidate count is sum(k choose 2) per order — linear-ish in
    orders, never all-pairs across the catalog. The association-rule
    candidate generator (a priori's first pass).

    Optimization r18 (guide §2.4, the copurchase_edges rewrite): one
    basket aggregation collecting each order's sorted distinct part
    set (map-side partial agg) + a local nested-transform pairing
    replaces the distinct + self-join chain — identical pair multiset,
    two shuffles instead of three plus a join. The scan is spread on
    the basket key (catalog.spread_scan), so the groupBy reuses the
    exchange."""
    from spark_lever_spark.catalog import spread_scan

    li = spread_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
        key="l_orderkey",
    )
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = parts.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i.cast("int") + 2, F.size("ps")),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.part_a", "e.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "frequent_triples_apriori",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
l2 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         c.l_partkey AS part_c, CAST(count(*) AS BIGINT) AS n_orders
  FROM items a
  JOIN items b ON b.l_orderkey = a.l_orderkey
              AND a.l_partkey < b.l_partkey
  JOIN items c ON c.l_orderkey = a.l_orderkey
              AND b.l_partkey < c.l_partkey
  JOIN l2 ab ON ab.pa = a.l_partkey AND ab.pb = b.l_partkey
  JOIN l2 ac ON ac.pa = a.l_partkey AND ac.pb = c.l_partkey
  JOIN l2 bc ON bc.pa = b.l_partkey AND bc.pb = c.l_partkey
  GROUP BY 1, 2, 3 HAVING count(*) >= 2
)
SELECT part_a, part_b, part_c, n_orders
FROM tri ORDER BY n_orders DESC, part_a, part_b, part_c
""",
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets with A-PRIORI pruning (Agrawal & Srikant
    '94) — the second association-rule pass over
    basket_part_pairs_top's first: a triple can only be frequent if
    ALL THREE of its sub-pairs are, so the order-local triple
    enumeration is gated on membership of each sub-pair in the
    frequent-pair table L2 (support >= 2) BEFORE counting. That gate
    is the scale story: the raw 3-way self-join fans out as
    basket-size CHOOSE 3 per order, but the three L2 semi-conditions
    cut candidates to the (tiny) downward-closed set — at 100 TB, L2
    is the pruned working set that broadcasts, and the triple count
    shuffles only gated candidates. Exact integer supports; ordered
    deterministic output."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b, c = items.alias("a"), items.alias("b"), items.alias("c")
    l2 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    tri = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
            F.col("c.l_partkey").alias("part_c"),
        )
    )
    ab = l2.select(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
    ac = l2.select(F.col("pa").alias("part_a"), F.col("pb").alias("part_c"))
    bc = l2.select(F.col("pa").alias("part_b"), F.col("pb").alias("part_c"))
    return (
        tri.join(F.broadcast(ab), ["part_a", "part_b"], "left_semi")
        .join(F.broadcast(ac), ["part_a", "part_c"], "left_semi")
        .join(F.broadcast(bc), ["part_b", "part_c"], "left_semi")
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b", "part_c")
    )


@register(
    "hybrid_skew_join_orders",
    oracle="""
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
""",
)
def hybrid_skew_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID (differential) skew join — the production answer when a
    handful of hot keys would overwhelm their shuffle partitions and
    salting is unavailable (e.g. the build side can't be replicated
    per salt): split the fact by key temperature. The top-100 hottest
    join keys (a bounded aggregate, driver-safe at any scale) route
    through a BROADCAST join of just their dimension rows — hot-key
    rows never shuffle at all — while the cold remainder takes the
    normal shuffle join; the union is EXACTLY the plain join because
    hot/cold partition the key space (the oracle IS the plain join,
    so the hash match proves the rewrite's identity). Same family as
    skew_salted_join but the opposite trade: salting spreads a hot key
    across reducers, the hybrid removes it from the shuffle entirely —
    pick per key-cardinality of the dim side. AQE's skew handling
    (test_aqe_skew.py) does this adaptively; here the rewrite is
    explicit and plan-pinned."""
    from spark_lever_spark.functions.exact import cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", cents(F.col("l_extendedprice")).alias("cents")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "l_orderkey")
        .limit(100)
        .select(F.col("l_orderkey").alias("hot_key"))
    )
    li_hot = li.join(
        F.broadcast(hot), li.l_orderkey == hot.hot_key, "left_semi"
    )
    li_cold = li.join(
        F.broadcast(hot), li.l_orderkey == hot.hot_key, "left_anti"
    )
    o_hot = orders.join(
        F.broadcast(hot), orders.o_orderkey == hot.hot_key, "left_semi"
    )
    hot_joined = li_hot.join(
        F.broadcast(o_hot), li_hot.l_orderkey == o_hot.o_orderkey
    )
    cold_joined = li_cold.join(
        orders, li_cold.l_orderkey == orders.o_orderkey
    )
    both = hot_joined.select("o_orderstatus", "cents").unionByName(
        cold_joined.select("o_orderstatus", "cents")
    )
    return (
        both.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("cents").alias("price_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "grid_join_value_time_neighbors",
    oracle="""
WITH e AS (
  SELECT event_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(a.event_id) AS BIGINT) AS min_id_a,
       CAST(max(b.event_id) AS BIGINT) AS max_id_b
FROM e a JOIN e b
  ON a.event_id < b.event_id
 AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
 AND abs(b.value - a.value) <= 1.0
""",
)
def grid_join_value_time_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2-DIMENSIONAL similarity self-join (near in TIME and in VALUE
    simultaneously) via GRID-CELL bucketing — the spatial-join pattern
    generalizing range_join_bucketed's 1-D axis: every row lands in
    one (5-minute, 1.0-value) grid cell, the LEFT side explodes onto
    its 3x3 neighborhood, and candidates meet through a pure EQUI-join
    on the cell key (each qualifying pair meets EXACTLY once — the
    right row's cell is unique, so no post-join dedup). Catalyst alone
    can only nested-loop a two-sided inequality like this; the grid
    turns it into one hash shuffle whose fan-out is 9x, independent of
    data size. Exact predicates re-verify candidates, so the result
    equals the direct theta join the oracle runs. Output: pair count +
    id span over co-anomalous error events."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts", "value")
    )
    tcell = (F.unix_micros(F.col("ts")) / 300000000).cast("long")
    vcell = F.floor(F.col("value") / 1.0).cast("long")
    a = e.select(
        F.col("event_id").alias("id_a"),
        F.col("ts").alias("ts_a"),
        F.col("value").alias("v_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (tcell + dt).alias("tc"), (vcell + dv).alias("vc")
                    )
                    for dt in (-1, 0, 1)
                    for dv in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    b = e.select(
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("ts_b"),
        F.col("value").alias("v_b"),
        F.struct(tcell.alias("tc"), vcell.alias("vc")).alias("cell"),
    )
    pairs = a.join(b, "cell").filter(
        (F.col("id_a") < F.col("id_b"))
        & (
            F.col("ts_b")
            >= F.col("ts_a") - F.expr("INTERVAL 5 MINUTE")
        )
        & (
            F.col("ts_b")
            <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTE")
        )
        & (F.abs(F.col("v_b") - F.col("v_a")) <= 1.0)
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.min("id_a").alias("min_id_a"),
        F.max("id_b").alias("max_id_b"),
    )


# ---------------------------------------------------------------------------
# dominance, fuzzy-match, and audit joins
# ---------------------------------------------------------------------------


@register(
    "skyline_parts_price_size",
    # independent spec: quadratic NOT-EXISTS dominance — the Spark side
    # must reproduce it from per-size aggregates without ever forming
    # the pair grid
    oracle="""
WITH p AS (
  SELECT p_partkey, p_name, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
)
SELECT p_partkey, p_name, CAST(p_size AS INT) AS p_size, price_cents
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_size >= a.p_size AND b.price_cents <= a.price_cents
    AND (b.p_size > a.p_size OR b.price_cents < a.price_cents)
)
ORDER BY p_partkey
""",
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: parts not dominated on
    (maximize size, minimize price) — the multi-criteria shortlist
    operator. The oracle states the O(n^2) NOT-EXISTS dominance spec;
    the Spark plan never forms the pair grid: per-size min prices
    (<= |distinct sizes| aggregate rows) get a strictly-larger-size
    prefix min via one ordered window OVER THE AGGREGATE, and each
    part then checks two integer predicates against its size row via
    a broadcast equi-join — keep iff price == per-size min AND
    price < best price among strictly larger sizes. Exact cents, so
    dominance can never flip on a float edge. At 100 TB: one
    aggregate-domain shuffle + a broadcast join; skyline membership is
    embarrassingly parallel."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.col("p_size").cast("int").alias("p_size"),
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    from pyspark.sql.window import Window

    per_size = p.groupBy("p_size").agg(F.min("price_cents").alias("m"))
    w = Window.orderBy(F.desc("p_size")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sized = per_size.withColumn("best_gt", F.min("m").over(w)).select(
        F.col("p_size").alias("_sz"), "m", "best_gt"
    )
    return (
        p.join(F.broadcast(sized), p["p_size"] == F.col("_sz"))
        .filter(
            (F.col("price_cents") == F.col("m"))
            & (
                F.col("best_gt").isNull()
                | (F.col("price_cents") < F.col("best_gt"))
            )
        )
        .select("p_partkey", "p_name", "p_size", "price_cents")
        .orderBy("p_partkey")
    )


# fuzzy_candidate_pairs keeps every pair within _FUZZY_MAX_EDIT edits;
# a length cell wider than that lets the +/-1 cells cover the band
_FUZZY_MAX_EDIT = 3
_FUZZY_CELL = 4


def fuzzy_candidate_pairs(names: DataFrame) -> DataFrame:
    """Equi-only candidate enumeration for a blocked edit-distance
    self-join over DISTINCT names (columns: p_name, n_parts, noun).

    Two blocking keys, both implied by
    ``levenshtein <= _FUZZY_MAX_EDIT``: the head noun, AND a length
    band — edit distance d means ``|len(a) - len(b)| <= d``, so
    bucketing length into cells of ``_FUZZY_CELL`` chars and probing
    only cells c-1..c+1 (each side-B name
    lives in exactly ONE cell, so the 3-cell explode on side A can
    never duplicate a pair) keeps every true pair while capping a
    skewed block: a high-frequency noun ("inc", "llc" on a real
    entity corpus) no longer forms one O(block^2) monolith — per-cell
    work is O(names-per-(noun,cell) ^ 2), quadratic only in names that
    genuinely collide on BOTH keys (same doctrine as the 2D grid
    join)."""
    base = names.withColumn("_len", F.length("p_name")).withColumn(
        "_cell", F.expr(f"length(p_name) div {_FUZZY_CELL}")
    )
    a = base.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("noun").alias("_na"),
        F.col("_len").alias("_la"),
        F.explode(
            F.array(F.col("_cell") - 1, F.col("_cell"), F.col("_cell") + 1)
        ).alias("_probe"),
    )
    b = base.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("noun").alias("_nb"),
        F.col("_len").alias("_lb"),
        F.col("_cell").alias("_cb"),
    )
    return a.join(
        b,
        (F.col("_na") == F.col("_nb"))
        & (F.col("_probe") == F.col("_cb"))
        & (F.col("name_a") < F.col("name_b")),
    ).filter(F.abs(F.col("_la") - F.col("_lb")) <= _FUZZY_MAX_EDIT)




@register(
    "fuzzy_join_part_names",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
         string_split(p_name, ' ')[-1] AS noun
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a
JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY name_a, name_b
""",
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) self-join — the entity-resolution
    primitive: find name variants that differ by <= 3 edits. The
    naive form is all-pairs levenshtein (quadratic in the corpus);
    the production shape deduplicates to DISTINCT names first (the
    aggregate domain — 64 names here regardless of row count), blocks
    on (head noun, length-band cell) — both equi-keys, the length
    band implied by edit <= 3 (see fuzzy_candidate_pairs for the skew
    cap a noun-only block lacks) — and runs the edit distance only
    inside blocks. levenshtein is exact integer in both engines, so
    the pair set is bit-identical to the oracle's noun-only blocking
    (the extra key drops only pairs the edit threshold drops anyway).
    At 100 TB the distinct-names aggregate is the only corpus-sized
    shuffle; pair enumeration is O(sum of per-(noun,cell) block^2),
    never O(rows^2) and never one giant per-noun block."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("noun", F.element_at(F.split("p_name", " "), -1))
    )
    return (
        fuzzy_candidate_pairs(names)
        .filter(F.levenshtein("name_a", "name_b") <= _FUZZY_MAX_EDIT)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias(
                "edit_distance"
            ),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


@register(
    "duplicate_payment_audit",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
)
SELECT a.o_custkey AS custkey, a.o_orderkey AS orderkey_1,
       b.o_orderkey AS orderkey_2, a.c AS amount_cents,
       CAST(a.o_orderdate AS TIMESTAMP) AS date_1,
       CAST(b.o_orderdate AS TIMESTAMP) AS date_2
FROM o a
JOIN o b ON a.o_custkey = b.o_custkey AND a.c = b.c
        AND a.o_orderkey < b.o_orderkey
WHERE b.o_orderdate >= a.o_orderdate - INTERVAL 7 DAY
  AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
ORDER BY custkey, orderkey_1, orderkey_2
""",
)
def duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the classic finance audit: same
    customer, same exact amount, order dates within +/- 7 days. The
    join key is (custkey, amount_cents) — a pure EQUI key, so Spark
    hash-joins it and the +/- 7 day band is a cheap residual filter on
    the (tiny) per-key candidate set, not a band-join enumeration.
    Amounts compare as exact int64 cents (a double equality would
    silently drop legitimate duplicate pairs). Scale: candidates are
    bounded by per-(customer, amount) multiplicity — near 1 on real
    ledgers — so output and shuffle are both ~input-sized."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey_1"),
        F.col("c").alias("amount_cents"),
        F.col("o_orderdate").alias("date_1"),
    )
    b = o.select(
        F.col("o_custkey").alias("_ck"),
        F.col("o_orderkey").alias("orderkey_2"),
        F.col("c").alias("_c2"),
        F.col("o_orderdate").alias("date_2"),
    )
    return (
        a.join(
            b,
            (F.col("_ck") == F.col("custkey"))
            & (F.col("_c2") == F.col("amount_cents"))
            & (F.col("orderkey_1") < F.col("orderkey_2")),
        )
        .filter(
            (F.col("date_2") >= F.col("date_1") - F.expr("INTERVAL 7 DAY"))
            & (F.col("date_2") <= F.col("date_1") + F.expr("INTERVAL 7 DAY"))
        )
        .select(
            "custkey",
            "orderkey_1",
            "orderkey_2",
            "amount_cents",
            "date_1",
            "date_2",
        )
        .orderBy("custkey", "orderkey_1", "orderkey_2")
    )


# ---------------------------------------------------------------------------
# directional association rules
# ---------------------------------------------------------------------------


@register(
    "association_rules_parts",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_item AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
),
baskets AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
  UNION ALL
  SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_ab,
       na.n AS n_ante, nc.n AS n_cons,
       CAST(r.n_ab AS DOUBLE) / na.n AS confidence,
       CAST(r.n_ab * t.n_baskets AS DOUBLE) / (na.n * nc.n) AS lift
FROM rules r
JOIN n_item na ON na.l_partkey = r.antecedent
JOIN n_item nc ON nc.l_partkey = r.consequent, baskets t
ORDER BY r.n_ab DESC, r.antecedent, r.consequent
LIMIT 20
""",
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL association rules over market baskets — the step
    after basket_part_pairs_top's candidate pairs: each frequent pair
    (support >= 2) yields two rules a=>b and b=>a with
    confidence = n_ab / n_antecedent and
    lift = n_ab * N / (n_a * n_b). Both metrics are ONE double
    division of exact int64 products (n_ab*N and n_a*n_b each fit
    int64 up to ~3e9 baskets — promote to DECIMAL beyond,
    documented), and the top-20 ranking orders by the raw integer
    support with key tiebreaks, so no float ever decides membership
    or order. Scale: pair generation is the order-keyed equi-join
    bounded by basket size; the marginals join is part-keyed equi;
    the 1-row basket count broadcasts; final ranking is TakeOrdered
    over the frequent-pair domain."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_item = items.groupBy("l_partkey").agg(F.count("*").alias("n"))
    baskets = items.agg(
        F.count_distinct("l_orderkey").alias("n_baskets")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    # Both rule directions via ONE explode — a union of two projections
    # of `pairs` would make Catalyst recompute the pair join twice.
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                ),
            )
        ).alias("r"),
        "n_ab",
    ).select("r.antecedent", "r.consequent", "n_ab")
    na = n_item.select(
        F.col("l_partkey").alias("antecedent"), F.col("n").alias("n_ante")
    )
    nc = n_item.select(
        F.col("l_partkey").alias("consequent"), F.col("n").alias("n_cons")
    )
    return (
        rules.join(na, "antecedent")
        .join(nc, "consequent")
        .crossJoin(F.broadcast(baskets))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_ante",
            "n_cons",
            (F.col("n_ab").cast("double") / F.col("n_ante")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_ante") * F.col("n_cons"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "antecedent", "consequent")
        .limit(20)
    )


@register(
    "tiered_rate_lookup_join",
    oracle="""
WITH tiers(tier, lo_cents, hi_cents, rate_bp) AS (VALUES
  ('T1', 0,        5000000,   50),
  ('T2', 5000000,  15000000,  75),
  ('T3', 15000000, 30000000, 100),
  ('T4', 30000000, 9223372036854775807, 150)
),
o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
)
SELECT t.tier, o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o.c) AS BIGINT) AS sum_cents,
       CAST(sum((o.c * t.rate_bp) // 10000) AS BIGINT)
           AS commission_cents
FROM o JOIN tiers t ON o.c >= t.lo_cents AND o.c < t.hi_cents
GROUP BY t.tier, o.o_orderpriority
ORDER BY tier, o_orderpriority
""",
)
def tiered_rate_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered-rate RANGE-LOOKUP join — the tax-bracket/commission
    pattern: each fact row matches the ONE tier whose [lo, hi) band
    contains its amount, then per-(tier, priority) rollups. The tier
    table is a literal dimension (4 rows), so Spark plans a
    BroadcastNestedLoopJoin with a 4-row build side — the sanctioned
    bounded-BNL shape (whitelisted by name in test_plans.py): each
    fact row probes at most 4 bands map-side, no shuffle of the fact
    table, and bands are half-open integer cents so membership can
    never double-count or gap on a float edge. The commission is
    integer basis-point math ((c * bp) div 10^4 — truncation spec'd
    identically via DuckDB's // floor on non-negative values). At
    100 TB this is the canonical broadcast-dim pattern for any
    banded-rate schedule."""
    tiers = spark.createDataFrame(
        [
            ("T1", 0, 5_000_000, 50),
            ("T2", 5_000_000, 15_000_000, 75),
            ("T3", 15_000_000, 30_000_000, 100),
            ("T4", 30_000_000, 9_223_372_036_854_775_807, 150),
        ],
        "tier string, lo_cents long, hi_cents long, rate_bp long",
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    return (
        o.join(
            F.broadcast(tiers),
            (F.col("c") >= F.col("lo_cents")) & (F.col("c") < F.col("hi_cents")),
        )
        .groupBy("tier", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("c").alias("sum_cents"),
            F.sum(F.expr("(c * rate_bp) div 10000")).alias(
                "commission_cents"
            ),
        )
        .orderBy("tier", "o_orderpriority")
    )


@register(
    "sorted_neighborhood_pairs",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
),
ranked AS (
  SELECT p_name, n_parts,
         row_number() OVER (ORDER BY p_name) AS rn
  FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(b.rn - a.rn AS BIGINT) AS window_offset,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM ranked a JOIN ranked b
  ON b.rn > a.rn AND b.rn <= a.rn + 3
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY name_a, name_b
""",
)
def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORTED-NEIGHBORHOOD entity-resolution blocking (Hernández &
    Stolfo SIGMOD'95): sort the name domain once, then compare each
    name only to its next w = 3 sort neighbors — the classic
    alternative to key-based blocking (`fuzzy_join_part_names` blocks
    on (head noun, length band)): a typo in the blocking key itself
    moves a record to a different BLOCK and is lost there, but mostly
    not to a different sort NEIGHBORHOOD. Candidate pairs are |domain|
    x w, a linear bound no skewed key can break. Doctrine: the sort
    and the rank-offset self-equi-join run on the DISTINCT-names
    AGGREGATE domain (the fuzzy-join rule — never rank raw catalog
    rows; per-name part counts ride along from the same aggregation),
    so the only raw-table cost is one name-keyed count."""
    from pyspark.sql.window import Window

    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    w = Window.orderBy("p_name")
    ranked = names.withColumn("rn", F.row_number().over(w))
    a = ranked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("rn").alias("rn_a"),
    )
    b = ranked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("rn").alias("rn_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") <= F.col("rn_a") + 3),
        )
        .where(dist <= 4)
        .select(
            "name_a",
            "name_b",
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias(
                "window_offset"
            ),
            dist.cast("long").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )
