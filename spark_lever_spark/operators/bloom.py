"""Bloom-filter semi-join reduction (runtime-filter pattern).

The scale problem: a fact-table semi-join against a filtered dimension
normally shuffles the ENTIRE fact table on the join key before any row
can be eliminated. Engines solve this with runtime filters — build a
tiny Bloom filter over the dimension keys, ship it into the fact scan,
and drop non-matching rows map-side so the shuffle (or broadcast-join
probe) only sees survivors. Spark's own optimizer does this internally
(`spark.sql.optimizer.runtime.bloomFilter.enabled`); this module
implements the pattern explicitly as a reusable operator so the plan
shape is visible and pinned.

Design (all JVM-side, zero Python in the row path):
- the bitmap is built distributively: explode each key into k=3
  positions (xxhash64 with distinct seeds), OR the per-word bits with
  a two-level aggregation, and assemble ONE row holding a
  ``map<long,long>`` word->bits — ~2 KB for 2^17 bits, broadcast to
  every task like Spark's own runtime filters.
- the probe is a map-side filter: 3 hash + mask + map-lookup ops per
  row, no shuffle, no UDF.
- false positives are removed by the EXACT semi-join that follows, so
  the final result is precisely the plain semi-join (the DuckDB oracle
  runs exactly that) — the Bloom stage only reduces the rows that
  reach it. This exactness-by-construction is why the hash family
  does not need to be reproducible in the oracle.

Reference parity: the reference has no runtime filters (Spark 1.3,
sql/core joins are plain hash/broadcast — LeftSemiJoinHash.scala);
this is a documented modern superset in the spirit of SURVEY.md §2.F.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import cents
from spark_lever_spark.registry import register

_SEEDS = (0x5EED1, 0x5EED2, 0x5EED3)
_NBITS = 1 << 17


def bloom_bitmap(keys: DataFrame, key_col: str) -> DataFrame:
    """One-row DataFrame ``bf: map<long,long>`` — a Bloom bitmap over
    ``keys[key_col]`` (``_NBITS`` bits, k=3 xxhash64 probes), built
    with distributed aggregation (never collected to the driver)."""
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(_NBITS))
            for s in _SEEDS
        ]
    )
    return (
        keys.select(F.explode(positions).alias("p"))
        .selectExpr(
            "shiftright(p, 6) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT)) AS bit",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
                "bf"
            )
        )
    )


def bloom_prune(fact: DataFrame, key_col: str, bitmap: DataFrame) -> DataFrame:
    """Filter ``fact`` to rows whose ``key_col`` MAY be in the bitmap
    (no false negatives). Map-side only: the 1-row bitmap arrives by
    broadcast, each row pays 3 hash+lookup ops, and the plan contains
    no exchange for ``fact`` itself."""
    probed = fact.crossJoin(F.broadcast(bitmap))
    checks = []
    for i, s in enumerate(_SEEDS):
        probed = probed.withColumn(
            f"_bp{i}",
            F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(_NBITS)),
        )
        checks.append(
            f"(shiftright(coalesce(element_at(bf, shiftright(_bp{i}, 6)),"
            f" CAST(0 AS BIGINT)), CAST(_bp{i} & 63 AS INT)) & 1) = 1"
        )
    return probed.filter(F.expr(" AND ".join(checks))).drop(
        "bf", *[f"_bp{i}" for i in range(len(_SEEDS))]
    )


@register(
    "bloom_semi_join_prune",
    oracle="""
SELECT l_returnflag, count(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE l_orderkey IN (
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem revenue for urgent orders, with an explicit Bloom
    runtime filter ahead of the exact semi-join.

    At 100 TB: the urgent-order keys aggregate to a ~2 KB bitmap that
    rides into every fact-scan task; ~FPP of the non-matching 80 % of
    lineitem is all that reaches the exact join, instead of the whole
    table. The final numbers are exact (integer-cents sums; the Bloom
    stage cannot add or drop a matching row).
    """
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    pruned = bloom_prune(li, "l_orderkey", bloom_bitmap(urgent, "o_orderkey"))
    exact = pruned.join(
        F.broadcast(urgent),
        pruned.l_orderkey == urgent.o_orderkey,
        "left_semi",
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
        )
        .orderBy("l_returnflag")
    )
