"""Multi-dimensional aggregation: CUBE / ROLLUP / GROUPING SETS.

Reference: logical Expand/GroupingSets/Cube/Rollup nodes
(catalyst/plans/logical/basicOperators.scala:174-243) executed by
execution/Expand.scala:35; surfaced only through the reference's HiveQL
dialect (HiveQl.scala:729-739). Here they are first-class DataFrame
ops (`df.cube`, `df.rollup`) and SQL `GROUPING SETS`.

Scale note: Expand multiplies input rows by the number of grouping
sets *before* the shuffle; partial aggregation keeps the shuffle
volume at O(groups x sets), which is why these stay cheap even on
100 TB fact tables with low-cardinality grouping columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


@register(
    "cube_flag_status",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping() indicators (reference Expand.scala:35 +
    Cube logical node)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


@register(
    "rollup_region_nation",
    oracle="""
SELECT r_name, n_name, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over a dim hierarchy (region > nation) after broadcast joins."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


@register(
    "grouping_sets_explicit",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (reference GroupingSets logical node,
    HiveQl.scala:729) via spark.sql on a registered view."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


@register(
    "pivot_event_type_daily",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
FROM events
GROUP BY 1 ORDER BY 1
""",
)
def pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (reference had only GROUP BY + CASE; pivot is the modern
    sugar for the same Expand-style plan). Pivot values are given
    EXPLICITLY — at scale, omitting them adds a blocking distinct scan
    just to discover the columns."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .orderBy("day")
    )
    return piv.fillna(0)


@register(
    "rollup_hourly_to_daily_mergeable",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       min(value) AS min_value, max(value) AS max_value,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
         / count(*) AS avg_cents
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
""",
)
def rollup_hourly_to_daily_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable) rollup: daily stats derived
    ONLY from hourly partial aggregates, never re-reading raw events —
    the pattern that lets a 100 TB pipeline maintain hour partials
    incrementally and serve day/week/month by merging 24/168/720 tiny
    rows instead of rescanning. Every partial is mergeable: counts and
    integer-cents sums add, min/max fold; avg is re-derived at the end
    from the merged sums (never averaged-of-averages).

    The oracle computes the daily stats straight from raw events —
    equality IS the proof that the hourly layer loses nothing. Exact
    by construction: all merged quantities are 64-bit integers
    (functions/exact.py doctrine), so partial-aggregation order cannot
    perturb a single bit."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn(
            "avg_cents",
            F.col("value_cents").cast("double") / F.col("n_events"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "share_of_parent_hierarchy",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
),
tot AS (
  SELECT region, nation, cents,
         CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
         CAST(SUM(cents) OVER () AS BIGINT) AS all_cents
  FROM rev
)
SELECT region, nation, cents,
       round(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE)
             * 1000000) / 1000000 AS share_of_region,
       round(CAST(region_cents AS DOUBLE) / CAST(all_cents AS DOUBLE)
             * 1000000) / 1000000 AS region_share_of_total
FROM tot ORDER BY region, nation
""",
)
def share_of_parent_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent along the geography hierarchy (nation within
    region, region within total) — the drill-down contribution readout
    every BI rollup needs, computed from ONE exact-cents leaf aggregate
    with two window sums layered on top (no second scan, no re-join;
    the leaf table is nations-sized, so both windows run over a
    bounded domain at any SF). Ratios divide exact int64 sums —
    bit-identical doubles before the 1e-6 presentation rounding.
    Dims arrive broadcast (catalog.BROADCAST_DIMS)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
        )
    )
    region = F.broadcast(
        load_table(spark, sf_dir, "region").select(
            "r_regionkey", F.col("r_name").alias("region")
        )
    )
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("region", "nation")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "cents",
        (
            F.round(
                F.col("cents").cast("double")
                / F.sum("cents").over(w_region).cast("double")
                * 1000000
            )
            / 1000000
        ).alias("share_of_region"),
        (
            F.round(
                F.sum("cents").over(w_region).cast("double")
                / F.sum("cents").over(w_all).cast("double")
                * 1000000
            )
            / 1000000
        ).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "topn_plus_other_brands",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, p.p_brand AS brand,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
),
rk AS (
  SELECT nation, brand, cents,
         row_number() OVER (PARTITION BY nation
                            ORDER BY cents DESC, brand) AS rn
  FROM rev
),
bucketed AS (
  SELECT nation,
         CASE WHEN rn <= 3 THEN brand ELSE 'OTHER' END AS brand_bucket,
         cents
  FROM rk
)
SELECT nation, brand_bucket,
       CAST(SUM(cents) AS BIGINT) AS cents,
       round(CAST(SUM(cents) AS DOUBLE)
             / CAST(SUM(SUM(cents)) OVER (PARTITION BY nation) AS DOUBLE)
             * 1000000) / 1000000 AS share_of_nation
FROM bucketed
GROUP BY nation, brand_bucket
ORDER BY nation, cents DESC, brand_bucket
""",
)
def topn_plus_other_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-plus-OTHER rollup: per nation, the top-3 part brands by
    revenue stay named and the tail COLLAPSES into one 'OTHER' row
    with its aggregate — the standard BI presentation the plain top-k
    family (topk_orders / topk_orders_with_ties) cannot express
    because it drops the tail instead of re-aggregating it. Exact
    cents; the per-nation rank (high-cardinality partition key) and
    the re-aggregation share one shuffle key; shares divide exact
    int64 sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("nation").orderBy(F.desc("cents"), "brand")
    bucketed = rev.select(
        "nation",
        F.when(F.row_number().over(w) <= 3, F.col("brand"))
        .otherwise(F.lit("OTHER"))
        .alias("brand_bucket"),
        "cents",
    )
    w_nat = Window.partitionBy("nation")
    return (
        bucketed.groupBy("nation", "brand_bucket")
        .agg(F.sum("cents").alias("cents"))
        .select(
            "nation",
            "brand_bucket",
            "cents",
            (
                F.round(
                    F.col("cents").cast("double")
                    / F.sum("cents").over(w_nat).cast("double")
                    * 1000000
                )
                / 1000000
            ).alias("share_of_nation"),
        )
        .orderBy("nation", F.desc("cents"), "brand_bucket")
    )
