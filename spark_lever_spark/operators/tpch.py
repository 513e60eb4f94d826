"""TPC-H queries 1-22 over the star schema, in three groups.

Headline queries 1/3/5/6/9/10/14/18 exercise the full relational
pipeline the reference supported — scan → filter → project →
hash-aggregate (partial+final) → join (broadcast/shuffle) → sort →
limit (reference physical operators in
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

Queries 4/7/8/12/13/15/17/19/21/22 are adapted to the driver's reduced
star schema (no partsupp table; lineitem lacks commitdate/receiptdate/
shipmode/shipinstruct; customer lacks phone — predicates on missing
columns are substituted with equivalents over existing ones, preserving
each query's *shape*: the join topology, correlation pattern, and
aggregation structure that matter for engine coverage).

Reference parity: these exercise semi/anti joins (reference
LeftSemiJoinHash.scala — anti is our superset, SURVEY.md §2.F),
correlated scalar subqueries (absent in the reference's parser — modern
superset), left outer + re-aggregation, and scalar-subquery max
selection. Scale notes per query in docstrings.

Queries 2/11/16/20 — the four that need `partsupp`, which the
driver's schema omits — are adapted over a partsupp-like relation
DERIVED from lineitem (per (l_partkey, l_suppkey): total quantity as
availqty, min observed unit price as supplycost), so each query keeps its
defining shape — q2's per-group-min correlated join, q11's
fraction-of-global-total HAVING, q16's NOT IN anti join under a
count-distinct, q20's nested IN semi-joins — against the tables that
exist. Completes TPC-H 1-22 coverage.

Exactness doctrine (functions/exact.py): supplycost is fixed-point
1e-4 dollars (round once at derivation, exact BIGINT arithmetic after)
so sums/comparisons never depend on float accumulation order.
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



@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (EXISTS -> left-semi join; commitdate predicate adapted to
    l_shipdate > o_orderdate). At scale: the semi join shuffles on
    l_orderkey but only ships the join key + date — column pruning
    keeps the probe side narrow."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev_1e4) AS DOUBLE) / 10000 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         {_REV_1E4} AS rev_1e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bi-directional nation-pair volume by year. Both nation dims
    broadcast; the OR-of-pairs predicate is applied post-join on the
    two broadcast nation names (cheap), while the date filter pushes to
    the lineitem scan — the only big shuffle is lineitem><orders."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg((F.sum(_rev_1e4()).cast("double") / 10000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN rev_1e4 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(rev_1e4) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         {_REV_1E4} AS rev_1e4,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: market share of NATION_3 suppliers in EUROPE for PROMO
    parts (p_container/p_type phrase adapted to the schema's flat
    p_type). 7-way join: part is filtered *before* the join (selective
    p_type pushdown), region/nation broadcast, ratio computed from two
    exact integer sums."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = _rev_1e4()
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(
            F.broadcast(region), F.col("c_rk") == F.col("r_regionkey")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_3", rev).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: orders-per-customer histogram (left outer join keeps
    order-less customers at c_count=0, then re-aggregate). Two
    shuffles by construction: join/agg on c_custkey, then agg on
    c_count (tiny domain -> broadcast-sized second stage)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV_1E4}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) / 10000 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: top revenue supplier via scalar-subquery max. Revenue kept
    as exact integer 1e-4 units so the max comparison has no fp ties.
    At scale the revenue CTE is the one lineitem shuffle; the max is a
    single-row broadcast back into the filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_1e4()).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("m"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_rev") == F.col("m"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_rev").cast("double") / 10000).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100 / 7.0
       AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: correlated scalar subquery (avg qty per part) decorrelated
    into an aggregate + join — the plan Catalyst produces for the SQL
    form, written out explicitly. Quantities are integral doubles, so
    0.2*avg is bit-identical across engines. The per-part avg is a
    partial-agg'd shuffle on l_partkey — same key as the main join, so
    AQE can reuse the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_limit")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100 / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
SELECT CAST(SUM({_REV_1E4}) AS DOUBLE) / 10000 AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunctive brand/size/quantity predicate (shipmode and
    container clauses adapted out — the schema lacks them). The OR
    spans both sides of the join, so it cannot push below it; part is
    broadcast and the predicate evaluates in codegen post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg((F.sum(_rev_1e4()).cast("double") / 10000).alias("revenue"))
    )


@register(
    "q22_dormant_customers",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) / 100
         AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: wealthy customers with no orders (phone-country-code
    grouping adapted to c_mktsegment). NOT EXISTS -> left-anti join
    (the reference's planner had no anti join at all — SURVEY.md §2.F);
    the avg threshold is a broadcast scalar."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(cents(F.col("c_acctbal"))).cast("double") / 100).alias(
                "totacctbal"
            ),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q12_late_shipment_priority",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 adapted (no l_shipmode/commitdate: 'late' = shipped >60 days
    after order; grouped by l_linestatus). The CASE-over-priority
    aggregation shape is the point — conditional counting pushed into
    one hash agg after the fact-fact join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 adapted ('late' = shipped >60 days after order date, standing
    in for receiptdate>commitdate): the ONLY supplier in a finished
    multi-supplier order who shipped late. The double correlation
    (EXISTS another supplier + NOT EXISTS another LATE supplier) is the
    hardest join shape in TPC-H: a semi join and an anti join against
    the same fact table, both on l_orderkey — one exchange reused for
    both probes at scale."""
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    # another supplier exists in the order
    has_other = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    l3 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select(
            F.col("l_orderkey").alias("y_orderkey"),
            F.col("l_suppkey").alias("y_suppkey"),
        )
    )
    # ...but no OTHER supplier in the order was late
    only_late = has_other.join(
        l3,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


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
