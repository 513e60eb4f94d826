"""RDD action tail (§2.E closure): takeSample / lookup / countApprox /
meanApprox / sumApprox parity.

The reference exposes these as driver-side RDD actions:
- ``takeSample`` (core/.../rdd/RDD.scala:426) — fixed-size uniform
  sample without replacement, collected to the driver.
- ``lookup`` (core/.../rdd/PairRDDFunctions.scala:840) — all values
  for one key of a pair RDD ("efficiently if the RDD has a known
  partitioner by only searching the partition that the key maps to").
- ``countApprox`` (core/.../rdd/RDD.scala:1023) and
  ``meanApprox``/``sumApprox``
  (core/.../rdd/DoubleRDDFunctions.scala:71-82) — timeout-bounded
  approximate actions returning a ``BoundedDouble`` (estimate +
  confidence interval).

Spark-first re-expression, documented supersets where the original is
a timeout heuristic:
- takeSample → deterministic top-k by a uniform key hash
  (TakeOrderedAndProject — one partial top-k per partition, k rows to
  the driver; never a full collect). A seeded-RNG sample cannot be
  oracle-checked bit-for-bit across engines, so the uniform hash plays
  the role of the seed: same fixed-size-k uniform-without-replacement
  semantics, reproducible everywhere.
- lookup → key-equality filter. With parquet input the predicate is
  pushed to the scan (min/max row-group + partition pruning = "only
  the partition the key maps to", the modern analog of the known-
  partitioner fast path the reference special-cases).
- countApprox/meanApprox/sumApprox → EXACT count/mean/sum plus the
  95 % normal-theory confidence half-width the reference's
  BoundedDouble would report at confidence=0.95. Modern whole-stage
  codegen counts/aggregates faster than the 1.3-era approximation
  machinery could short-circuit, so the exact value inside the same
  interval contract is the strictly-better answer; the interval
  arithmetic runs on exact integer cents (n·Σx² − (Σx)² in
  decimal(38,0)) so the only floating steps are correctly-rounded
  IEEE divide/sqrt — bit-identical across engines.

Scale notes: every query here is a single aggregation or a pushed-down
point filter; the only driver-bound rows are the k sampled / matched
rows themselves, exactly as with the original actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import DEC38
from spark_lever_spark.registry import register


@register(
    "take_sample_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
LIMIT 64
""",
)
def take_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """takeSample(withReplacement=false, num=64) (reference
    core/.../rdd/RDD.scala:426) — fixed-size uniform sample without
    replacement. The RNG seed is replaced by a uniform md5 key hash so
    the SAME 64 rows come back in every engine and every run; ordering
    by the hash is a TakeOrderedAndProject: each partition ships only
    its local top-64, the driver merges 64·P candidate rows — the same
    driver-side payload shape as the original action, never a full
    collect. Scale: map-side partial top-k, no shuffle of the fact
    table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents"),
            F.md5(F.col("o_orderkey").cast("string")).alias("_h"),
        )
        .orderBy("_h", "o_orderkey")
        .limit(64)
        .drop("_h")
    )


@register(
    "lookup_orders_by_custkey",
    oracle="""
SELECT o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       o_orderdate
FROM orders
WHERE o_custkey = 7
ORDER BY o_orderkey
""",
)
def lookup_orders_by_custkey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """lookup(key) on a pair RDD (reference
    core/.../rdd/PairRDDFunctions.scala:840) — all values for one key.
    The reference fast-paths RDDs with a known partitioner by scanning
    only the key's partition; the DataFrame analog is a pushed-down
    key-equality predicate (PushedFilters: EqualTo(o_custkey,7)), so
    parquet row-group min/max statistics skip every block that cannot
    contain the key — the same only-touch-the-relevant-partition
    behavior, chosen by the scan instead of hand-routed. Key 7 is an
    sf-independent custkey (verified present with orders at sf0.001,
    0.01 and 0.1 of the synthetic testdata)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") == 7)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


@register(
    "count_approx_lineitem",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
""",
)
def count_approx_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countApprox(timeout, confidence) (reference
    core/.../rdd/RDD.scala:1023) — documented superset: the reference
    returns a partial count when the timeout fires before all
    partitions report; whole-stage-codegen count over parquet
    (rowgroup-metadata fast path) finishes faster than the 1.3-era
    job could short-circuit, so the EXACT count — always inside the
    BoundedDouble interval — is returned. The distinct-key count
    rides along as the countApproxDistinct cross-check at exact
    grain (the HLL variant is covered by approx_count_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "mean_sum_approx_prices",
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS sum_cents,
         CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                       AS HUGEINT)
                  * CAST(round(o_totalprice * 100) AS BIGINT))
              AS HUGEINT) AS sumsq
  FROM orders
)
SELECT n, sum_cents,
       round(CAST(sum_cents AS DOUBLE) / n) / 100 AS mean_price,
       round(1.96 * sqrt(
               (CAST(n AS DOUBLE) * CAST(sumsq AS DOUBLE)
                - CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
             ) / sqrt(CAST(n AS DOUBLE))) / 100 AS ci95_halfwidth
FROM s
""",
)
def mean_sum_approx_prices(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """meanApprox / sumApprox (reference
    core/.../rdd/DoubleRDDFunctions.scala:71-82) — the BoundedDouble
    contract (estimate ± confidence bound at 0.95) with the estimate
    made exact: n, Σx and Σx² accumulate as integer cents
    (decimal(38,0) — no float summation-order drift), and the 95 %
    half-width 1.96·s/√n uses only correctly-rounded IEEE divide/sqrt
    on those exact integers, so Spark and the oracle agree
    bit-for-bit. One map-side-combined aggregate, one 1-row result —
    the same driver payload as the original action at any scale."""
    o = load_table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    s = o.agg(
        F.count("*").alias("n"),
        F.sum(c).alias("sum_cents"),
        F.sum(c.cast(DEC38) * c).alias("sumsq"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        "sum_cents",
        (
            F.round(F.col("sum_cents").cast("double") / nd) / 100
        ).alias("mean_price"),
        (
            F.round(
                1.96
                * F.sqrt(
                    (
                        nd * F.col("sumsq").cast("double")
                        - F.col("sum_cents").cast("double")
                        * F.col("sum_cents").cast("double")
                    )
                    / (nd * (nd - F.lit(1.0)))
                )
                / F.sqrt(nd)
            )
            / 100
        ).alias("ci95_halfwidth"),
    )
