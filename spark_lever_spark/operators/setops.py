"""Set operators (reference §2.E set ops / §2.F Union/Intersect/Except).

Reference physical ops: Union (execution/basicOperators.scala:77),
Except (:238), Intersect (:252); RDD union/intersection/subtract
(rdd/RDD.scala:474,:506,:857). Modern Spark adds the *ALL variants
(unionByName, intersectAll, exceptAll) — exposed as superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


def _poles(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two overlapping custkey sets: high-balance customers vs customers
    with at least one urgent order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return rich, urgent


_POLES_SQL = """
WITH rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000),
     urgent AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                WHERE o_orderpriority = '1-URGENT')
"""


@register(
    "set_union_all",
    oracle=_POLES_SQL
    + """
SELECT custkey, count(*) AS cnt FROM (
  SELECT custkey FROM rich UNION ALL SELECT custkey FROM urgent
) GROUP BY custkey ORDER BY custkey
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (reference basicOperators.scala:77 — bag semantics,
    no shuffle: partitions concatenate)."""
    rich, urgent = _poles(spark, sf_dir)
    return (
        rich.unionAll(urgent)
        .groupBy("custkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy("custkey")
    )


@register(
    "set_union_distinct",
    oracle=_POLES_SQL
    + """
SELECT custkey FROM rich UNION SELECT custkey FROM urgent ORDER BY custkey
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (reference SqlParser UNION [DISTINCT]) = union + dedup."""
    rich, urgent = _poles(spark, sf_dir)
    return rich.union(urgent).distinct().orderBy("custkey")


@register(
    "set_intersect",
    oracle=_POLES_SQL
    + """
SELECT custkey FROM rich INTERSECT SELECT custkey FROM urgent ORDER BY custkey
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (reference basicOperators.scala:252)."""
    rich, urgent = _poles(spark, sf_dir)
    return rich.intersect(urgent).orderBy("custkey")


@register(
    "set_except",
    oracle=_POLES_SQL
    + """
SELECT custkey FROM rich EXCEPT SELECT custkey FROM urgent ORDER BY custkey
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / subtract (reference basicOperators.scala:238,
    rdd/RDD.scala:857)."""
    rich, urgent = _poles(spark, sf_dir)
    return rich.exceptAll(urgent).distinct().orderBy("custkey")


@register(
    "zip_with_index",
    oracle="""
SELECT n_name, CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS BIGINT) AS idx
FROM nation ORDER BY idx
""",
)
def zip_with_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zipWithIndex (reference rdd/RDD.scala:1133) in its deterministic
    order-defined form. The reference implementation IS per-partition
    counts + broadcast prefix offsets — exactly the 2-pass distributed
    rank (operators/grank.py), which this now uses: no single-task
    window even when the input outgrows the 25-row dim used here.
    (`monotonically_increasing_id` is the partition-local analog and is
    exercised in tests, where only uniqueness is asserted.)"""
    from spark_lever_spark.operators.grank import with_global_rank

    nation = load_table(spark, sf_dir, "nation")
    ranked = with_global_rank(
        nation.select("n_name", "n_nationkey"),
        F.col("n_nationkey"),
        [],
        num_bins=8,
    )
    return ranked.select(
        "n_name", (F.col("_rk") - 1).alias("idx")
    ).orderBy("idx")


@register(
    "tree_aggregate_two_level",
    oracle="""
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       count(*) AS n_rows
FROM lineitem
""",
)
def tree_aggregate_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """treeAggregate parity (reference RDD.scala `treeAggregate` /
    `treeReduce`): a global aggregate folded through an explicit
    INTERMEDIATE level — partials combine within 16 hash buckets
    before the final single-row reduce — so the last stage merges 16
    rows instead of every map partition's partial. On a 1000-executor
    cluster this is what keeps the driver/final-task fan-in constant
    as parallelism grows (Spark's own 2-level partial aggregation has
    a single final reducer; the tree inserts log-depth between them).
    Exact integer cents end-to-end, so the hash check proves the
    multi-level fold loses nothing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    level1 = (
        li.groupBy((F.crc32(F.col("c").cast("string")) % 16).alias("bucket"))
        .agg(F.sum("c").alias("part_sum"), F.count("*").alias("part_n"))
    )
    return level1.agg(
        F.sum("part_sum").alias("total_cents"),
        F.sum("part_n").alias("n_rows"),
    )


@register(
    "zip_with_unique_id",
    oracle="""
SELECT count(*) AS n_rows,
       count(*) AS n_distinct_ids,
       TRUE AS ids_unique
FROM events
""",
)
def zip_with_unique_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zipWithUniqueId parity (reference RDD.scala `zipWithUniqueId`):
    unlike zipWithIndex (covered by zip_with_index, which pays a
    count-per-partition pass), unique ids come from
    monotonically_increasing_id — ZERO extra passes, ids unique but
    NOT contiguous and partition-layout-dependent. Exactly because the
    id values are layout-dependent, the oracle checks the CONTRACT
    (uniqueness and cardinality), not the values — the same invariant
    the reference API documents."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("uid").alias("n_distinct_ids"),
        (F.count("*") == F.countDistinct("uid")).alias("ids_unique"),
    )
