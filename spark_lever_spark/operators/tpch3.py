"""TPC-H queries 2/11/16/20 — the four that need `partsupp`, which the
driver's schema omits. Adapted over a partsupp-like relation DERIVED
from lineitem (per (l_partkey, l_suppkey): total quantity as availqty,
min observed unit price as supplycost), so each query keeps its
defining shape — q2's per-group-min correlated join, q11's
fraction-of-global-total HAVING, q16's NOT IN anti join under a
count-distinct, q20's nested IN semi-joins — against the tables that
exist. Completes TPC-H 1-22 coverage (with 4/7/8/12/13/15/17/19/21/22
adapted in tpch2.py).

Exactness doctrine (functions/exact.py): supplycost is fixed-point
1e-4 dollars (round once at derivation, exact BIGINT arithmetic after)
so sums/comparisons never depend on float accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register

# Derived partsupp, shared by all four oracles (DuckDB CTE) and the
# Spark helper below. MIN over per-row identical divisions is
# order-independent, so both engines agree bitwise before the round.
_PS_SQL = """
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty,
         CAST(round(MIN(l_extendedprice / l_quantity) * 10000) AS BIGINT)
           AS ps_supplycost_1e4
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
"""


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("ps_availqty"),
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000
        )
        .cast("long")
        .alias("ps_supplycost_1e4"),
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
WITH {_PS_SQL},
eu AS (
  SELECT ps_partkey, ps_supplycost_1e4, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (
  SELECT ps_partkey, MIN(ps_supplycost_1e4) AS min_cost_1e4
  FROM eu GROUP BY ps_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(e.ps_supplycost_1e4 AS DOUBLE) / 10000 AS supplycost
FROM part
JOIN eu e ON p_partkey = e.ps_partkey
JOIN best b ON e.ps_partkey = b.ps_partkey
           AND e.ps_supplycost_1e4 = b.min_cost_1e4
WHERE p_size = 15 AND p_type = 'LARGE'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: cheapest EUROPE supplier per qualifying part (ties kept,
    as in spec). Shape preserved: per-part MIN over a region-filtered
    supplier set, joined back on (part, min-cost). At scale the
    part-side filter (p_size/p_type) makes the part probe tiny ->
    broadcast; the ps aggregation is the one big shuffle and its
    grouping key (partkey, suppkey) is near-unique, so no skew. The
    per-part min is a WINDOW min + filter rather than an agg joined
    back on (partkey, min_cost): same result (ties kept), but one
    partkey shuffle replaces an agg shuffle plus a composite-key
    re-shuffle of both join sides (6 exchanges -> 3, pinned in
    tests/test_plans.py)."""
    ps = _derived_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    eu = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost_1e4", "s_acctbal", "s_name", "n_name")
    )
    from pyspark.sql.window import Window

    min_cost = F.min("ps_supplycost_1e4").over(
        Window.partitionBy("ps_partkey")
    )
    cheapest = eu.withColumn("min_cost_1e4", min_cost).filter(
        F.col("ps_supplycost_1e4") == F.col("min_cost_1e4")
    )
    return (
        F.broadcast(part)
        .join(cheapest, part.p_partkey == cheapest.ps_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_1e4").cast("double") / 10000).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@register(
    "q11_important_stock",
    oracle=f"""
WITH {_PS_SQL},
natps AS (
  SELECT ps_partkey, ps_supplycost_1e4 * ps_availqty AS value_1e4
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT ps_partkey, CAST(SUM(value_1e4) AS DOUBLE) / 10000 AS value
FROM natps
GROUP BY ps_partkey
HAVING CAST(SUM(value_1e4) AS DOUBLE)
     > 0.002 * (SELECT CAST(SUM(value_1e4) AS DOUBLE) FROM natps)
ORDER BY value DESC, ps_partkey
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: parts whose NATION_3 supply value exceeds a fraction of the
    nation's total. value is exact BIGINT (fixed-point cost x qty), so
    the HAVING threshold — a scalar aggregate of the same relation —
    is engine-independent. Spark expresses the scalar subquery as a
    1-row broadcast cross join; natps feeds both the per-part agg and
    the total within ONE plan, so Catalyst's ReuseExchange serves both
    from the same shuffle output — no cache (which would pin executor
    storage across invocations) needed."""
    ps = _derived_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    natps = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_1e4") * F.col("ps_availqty")).alias("value_1e4"),
        )
    )
    total = natps.agg(F.sum("value_1e4").cast("double").alias("total_1e4"))
    return (
        natps.groupBy("ps_partkey")
        .agg(F.sum("value_1e4").alias("sum_1e4"))
        .join(F.broadcast(total))
        .filter(F.col("sum_1e4").cast("double") > 0.002 * F.col("total_1e4"))
        .select(
            "ps_partkey",
            (F.col("sum_1e4").cast("double") / 10000).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle=f"""
WITH {_PS_SQL}
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: distinct-supplier counts by part attribute, excluding
    flagged suppliers (complaint predicate adapted to s_acctbal < 0)
    via NOT IN -> broadcast anti join. The count-distinct runs as
    Catalyst's Expand two-phase plan — partial aggregation still
    applies, so the wide shuffle carries (attrs, suppkey) pairs
    already deduplicated map-side."""
    ps = _derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
    )
    flagged = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(flagged),
            ps.ps_suppkey == flagged.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_potential_promotion",
    oracle=f"""
WITH {_PS_SQL},
sh96 AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty96
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND s_suppkey IN (
    SELECT ps.ps_suppkey
    FROM ps
    JOIN sh96 ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_partkey IN
        (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND ps_availqty > 2 * qty96
  )
ORDER BY s_name
""",
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20: NATION_1 suppliers holding 'red' parts whose total supply
    exceeds twice their 1996 shipments (availqty > half-of-shipped
    adapted to the derived schema, keeping the nested IN -> semi-join
    -> semi-join topology). Both ps and sh96 aggregate lineitem on the
    same (partkey, suppkey) key, so their outputs arrive identically
    hash-partitioned and the join between them needs NO additional
    exchange — the whole query pays the two aggregation shuffles plus
    the presentation sort (verified: 3 exchanges total)."""
    ps = _derived_partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    sh96 = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty96"))
    )
    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    qualifying = (
        ps.join(
            sh96,
            (ps.ps_partkey == sh96.l_partkey) & (ps.ps_suppkey == sh96.l_suppkey),
        )
        .join(F.broadcast(red), ps.ps_partkey == red.p_partkey, "left_semi")
        .filter(F.col("ps_availqty") > 2 * F.col("qty96"))
        .select("ps_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        supp.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, supp.s_suppkey == qualifying.ps_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
