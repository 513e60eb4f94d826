"""Exact-integer allocation operators: proration with largest-remainder
rounding, and weighted medians.

The finance/billing family the reference's exact-arithmetic tests
exercise (money must allocate to the cent, and per-group order
statistics must not funnel a whole group through one task). Both
operators follow the repo doctrine: money as int64 cents end-to-end
(functions/exact.py), ordered-window work 2-passed when the grouping
key is low-cardinality (operators/grank.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import cents
from spark_lever_spark.registry import register


def prorate_largest_remainder(
    df: DataFrame,
    key: str,
    weight_col: str,
    amount_col: str,
    order_col: str,
) -> DataFrame:
    """Allocation core: split each key's ``amount_col`` (identical on
    every row of the key) across its rows proportionally to
    ``weight_col``, largest-remainder rounded so the int64 ``alloc``
    column sums to the amount EXACTLY per key (floor shares
    ``amount*w // total_w``; leftover units go to the rows with the
    largest remainders ``amount*w % total_w``, ties to the lowest
    ``order_col``). Windows partition on ``key`` only. Property
    contracts (exact sum, weight monotonicity, python-reference
    equality) pinned by hypothesis in tests/test_temporal.py."""
    w = Window.partitionBy(key)
    base = (
        df.withColumn("_tot_w", F.sum(weight_col).over(w))
        .withColumn(
            "_num", (F.col(amount_col) * F.col(weight_col)).cast("long")
        )
        .withColumns(
            {
                # long `div` long: exact integer division for the full
                # int64 range (F.floor(num / tot) goes through a double
                # quotient, exact only below 2^53 — ADVICE round 8)
                "_floor": F.expr("_num div _tot_w").cast("long"),
                "_rem": (F.col("_num") % F.col("_tot_w")),
            }
        )
    )
    ranked = base.withColumns(
        {
            "_fsum": F.sum("_floor").over(w),
            "_rrank": F.row_number().over(
                w.orderBy(F.desc("_rem"), order_col)
            ),
        }
    )
    return ranked.withColumn(
        "alloc",
        (
            F.col("_floor")
            + F.when(
                F.col("_rrank") <= F.col(amount_col) - F.col("_fsum"), 1
            ).otherwise(0)
        ).cast("long"),
    ).drop("_tot_w", "_num", "_floor", "_rem", "_fsum", "_rrank")


@register(
    "prorate_fee_largest_remainder",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS line_cents
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderpriority = '1-URGENT'
                         AND EXTRACT(year FROM o_orderdate) = 1995)
),
fee AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) // 20 AS fee_cents
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND EXTRACT(year FROM o_orderdate) = 1995
),
base AS (
  SELECT li.l_orderkey, li.l_linenumber, li.line_cents, f.fee_cents,
         SUM(li.line_cents) OVER (PARTITION BY li.l_orderkey) AS tot_cents,
         f.fee_cents * li.line_cents AS num
  FROM li JOIN fee f ON f.o_orderkey = li.l_orderkey
),
shares AS (
  SELECT l_orderkey, l_linenumber, line_cents, fee_cents,
         num // tot_cents AS floor_share,
         num % tot_cents AS frac_rem,
         SUM(num // tot_cents) OVER (PARTITION BY l_orderkey)
             AS floor_sum
  FROM base
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY frac_rem DESC, l_linenumber)
             AS frac_rank
  FROM shares
)
SELECT l_orderkey, l_linenumber, line_cents, fee_cents,
       CAST(floor_share
            + CASE WHEN frac_rank <= fee_cents - floor_sum
                   THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM ranked
ORDER BY l_orderkey, l_linenumber
""",
)
def prorate_fee_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prorate a 5 % order-level fee across the order's lineitems
    proportionally to line value, with LARGEST-REMAINDER rounding so
    the allocated cents sum to the fee EXACTLY per order (the billing
    invariant naive per-line rounding violates — pennies appear or
    vanish). All arithmetic is int64: floor shares are
    ``fee*line // total``, the leftover ``fee - sum(floors)`` cents go
    to the lines with the largest remainders ``fee*line % total``
    (ties to the lowest line number). Windows partition on l_orderkey
    — high-cardinality, so every task holds a handful of lines
    regardless of table size; products stay < 2^63 (fee ~< 10^6 cents,
    line ~< 10^9 cents). Scoped to 1995 urgent orders to keep the
    checked output bounded."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1995)
    )
    fee = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        (cents(F.col("o_totalprice")) / 20).cast("long").alias("fee_cents"),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            cents(F.col("l_extendedprice")).alias("line_cents"),
        )
        .join(fee, "l_orderkey")
    )
    return (
        prorate_largest_remainder(
            li, "l_orderkey", "line_cents", "fee_cents", "l_linenumber"
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "line_cents",
            "fee_cents",
            F.col("alloc").alias("alloc_cents"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "weighted_median_order_value",
    oracle="""
WITH w AS (
  SELECT n.n_name AS nation,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
         o.o_orderkey,
         CAST(cnt.n_lines AS BIGINT) AS wt
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN (SELECT l_orderkey, count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey) cnt
    ON cnt.l_orderkey = o.o_orderkey
),
cum AS (
  SELECT nation, price_cents, wt,
         SUM(wt) OVER (PARTITION BY nation
                       ORDER BY price_cents, o_orderkey) AS cw,
         SUM(wt) OVER (PARTITION BY nation) AS tw
  FROM w
)
SELECT nation,
       CAST(min(tw) AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN 2 * cw >= tw THEN price_cents END) AS BIGINT)
           AS weighted_median_cents
FROM cum GROUP BY nation ORDER BY nation
""",
)
def weighted_median_order_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation WEIGHTED median of order value (weight = lineitem
    count): the smallest price whose cumulative weight reaches half
    the nation's total — the order-statistic a fulfillment planner
    wants ("the typical shipped line sits on an order of this value"),
    which the unweighted median misstates when big orders carry more
    lines.

    Scale shape: nation cardinality is ~25, so the weighted running
    sum comes from the 2-pass grouped cumsum (operators/grank.py,
    binned on price cents) instead of a per-nation window — no
    whole-nation single-task funnel; totals ride a broadcast join and
    the median row is a per-nation min over the filtered frame. All
    integer cents."""
    from spark_lever_spark.operators.grank import with_grouped_cumsum

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    nlines = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("wt"))
    )
    w = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), "c_nationkey")
        .join(nlines, orders.o_orderkey == nlines.l_orderkey)
        .select(
            "nation",
            cents(F.col("o_totalprice")).alias("price_cents"),
            "o_orderkey",
            "wt",
        )
    )
    cum = with_grouped_cumsum(
        w,
        ["nation"],
        F.col("price_cents"),
        ["price_cents", "o_orderkey"],
        "wt",
    )
    tot = w.groupBy("nation").agg(F.sum("wt").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "nation")
        .groupBy("nation")
        .agg(
            F.min("tw").alias("total_weight"),
            F.min(
                F.when(
                    2 * F.col("_cum") >= F.col("tw"), F.col("price_cents")
                )
            ).alias("weighted_median_cents"),
        )
        .orderBy("nation")
    )
