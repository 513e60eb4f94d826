"""TPC-H-style headline queries over the star schema.

These exercise the full relational pipeline the reference supported —
scan → filter → project → hash-aggregate (partial+final) → join
(broadcast/shuffle) → sort → limit (reference physical operators in
sql/core/.../execution/{basicOperators,Aggregate}.scala and
execution/joins/* of the reference tree) — expressed declaratively so
Catalyst picks broadcast joins for the dims, pushes filters to the
parquet scan, and prunes columns.

Scale notes (100 TB design point):
- region/nation are constant-size → always broadcast (explicit hint).
- Aggregations are keyed on low-cardinality columns → partial
  aggregation collapses them map-side; shuffle volume is O(groups).
- Sorts are top-k (`orderBy().limit(k)`) wherever the query allows →
  planner uses TakeOrderedAndProject, never a full sort.
- Money is aggregated as exact integer cents (functions/exact.py):
  order-independent, reproducible under any partitioning — at real
  scale you'd use DECIMAL; 64-bit cents keeps whole-stage codegen on
  primitive longs. Revenue-style sums fit: 1e7 cents x 1e4 x 6e5 rows
  ~ 6e16 << 2^63 at bench SF (DECIMAL(38) is the drop-in at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import cents, round_to
from spark_lever_spark.registry import register

# exact integer revenue term: price_cents * (100 - discount_pct_cents),
# in 1e-4 dollar units
_REV_1E4 = "CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))"


def _rev_1e4() -> F.Column:
    return cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))


@register(
    "q1_pricing_summary",
    oracle=f"""
WITH l AS (
  SELECT l_returnflag, l_linestatus, l_quantity,
         CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
         CAST(round(l_discount*100) AS BIGINT)      AS disc_c,
         CAST(round(l_tax*100) AS BIGINT)           AS tax_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-01'
)
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity)*100)/100                                  AS sum_qty,
       CAST(sum(price_c) AS DOUBLE) / 100                              AS sum_base_price,
       CAST(sum(price_c * (100 - disc_c)) AS DOUBLE) / 10000           AS sum_disc_price,
       CAST(sum(price_c * (100 - disc_c) * (100 + tax_c)) AS DOUBLE) / 1000000 AS sum_charge,
       round(sum(l_quantity) * 100 / count(*)) / 100                   AS avg_qty,
       round(CAST(sum(price_c) AS DOUBLE) / count(*)) / 100            AS avg_price,
       round(CAST(sum(disc_c) AS DOUBLE) * 100 / count(*)) / 10000     AS avg_disc,
       count(*)                                                        AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape): wide scan-agg.

    Parity target: reference hash aggregate with partial aggregation
    (reference execution/Aggregate.scala:41, partial flag) — modern
    Spark does the map-side combine automatically. All money math in
    exact integer cents (see functions/exact.py doctrine)."""
    li = load_table(spark, sf_dir, "lineitem")
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    tax_c = cents(F.col("l_tax"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            price_c.alias("price_c"),
            disc_c.alias("disc_c"),
            tax_c.alias("tax_c"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_to(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum("price_c").cast("double") / 100).alias("sum_base_price"),
            (
                F.sum(F.col("price_c") * (100 - F.col("disc_c"))).cast("double")
                / 10000
            ).alias("sum_disc_price"),
            (
                F.sum(
                    F.col("price_c")
                    * (100 - F.col("disc_c"))
                    * (100 + F.col("tax_c"))
                ).cast("double")
                / 1000000
            ).alias("sum_charge"),
            (F.round(F.sum("l_quantity") * 100 / n) / 100).alias("avg_qty"),
            (F.round(F.sum("price_c").cast("double") / n) / 100).alias("avg_price"),
            (F.round(F.sum("disc_c").cast("double") * 100 / n) / 10000).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       CAST(sum({_REV_1E4}) AS DOUBLE) / 10000 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority (TPC-H Q3 shape): 3-way join + agg + top-k.

    customer is filtered before the join (predicate pushdown) and the
    final sort is a top-k (TakeOrderedAndProject), never a full sort."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_rev_1e4()).cast("double") / 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       CAST(sum({_REV_1E4}) AS DOUBLE) / 10000 AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume (TPC-H Q5 shape): 6-way join.

    nation/region broadcast (constant-size at every SF); fact-fact
    joins shuffle on their keys with AQE handling skew."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
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
        .agg((F.sum(_rev_1e4()).cast("double") / 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
               * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE) / 10000
           AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change (TPC-H Q6 shape): pure scan-filter-agg.

    All four predicates push to the parquet scan (PushedFilters); the
    aggregate is one global sum — no shuffle beyond the final exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        (
            F.sum(cents(F.col("l_extendedprice")) * cents(F.col("l_discount"))).cast(
                "double"
            )
            / 10000
        ).alias("revenue")
    )


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       CAST(sum({_REV_1E4}) AS DOUBLE) / 10000 AS revenue,
       round(c_acctbal*100)/100 AS c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned item reporting (TPC-H Q10 shape): join + agg + top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_rev_1e4()).cast("double") / 10000).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            round_to(F.col("c_acctbal"), 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    oracle=f"""
WITH j AS (
  SELECT p_type, {_REV_1E4} AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
)
SELECT round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
             * 1000000 / sum(rev)) / 10000 AS promo_revenue_pct
FROM j
""",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): conditional aggregation over
    a join; ratio of two exact integer sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _rev_1e4()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
    total = F.sum(rev)
    return li.join(part, F.col("l_partkey") == F.col("p_partkey")).agg(
        (F.round(promo.cast("double") * 1000000 / total) / 10000).alias(
            "promo_revenue_pct"
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice*100)/100 AS o_totalprice,
       round(sum(l_quantity)*100)/100 AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customer (TPC-H Q18 shape): agg-derived semi join.

    The HAVING subquery becomes a left-semi join against an aggregate
    — the reference had LeftSemiJoinHash (reference
    joins/LeftSemiJoinHash.scala); the planner picks the physical semi."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round_to(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            round_to(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q9_profit_by_nation_year",
    oracle=f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum({_REV_1E4}
                - CAST(round(p_retailprice*100) AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * 60) AS DOUBLE) / 10000 AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product profit (TPC-H Q9 shape, cost proxy = 0.6*retail*qty since
    the schema has no partsupp): 5-way join, group by nation x year."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    profit_1e4 = _rev_1e4() - cents(F.col("p_retailprice")) * F.col(
        "l_quantity"
    ).cast("long") * 60
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_1e4).cast("double") / 10000).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )
