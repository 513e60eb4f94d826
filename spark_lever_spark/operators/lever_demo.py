"""Registry visibility for the Lever balancer (SURVEY.md §2.A).

The balancer itself is control-plane logic tested on synthetic metric
traces (tests/test_lever.py); these entries exercise its *data-plane*
actuation inside a real query so the correctness driver sees the
operator run. Both are rows-only checks: the balancer's output depends
on a runtime weight vector, which no ANSI-SQL oracle can express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


@register(
    "lever_weighted_repartition",
    # partition PLACEMENT is runtime-internal, but the surfaced summary
    # is fully predictable: exactly num_partitions=7 non-empty shards
    # (weights 4:2:1 over 60k rows cannot starve a shard) carrying
    # every input row — which the oracle recomputes from the table
    oracle="""
SELECT CAST(7 AS BIGINT) AS partition_count, COUNT(*) AS total_rows
FROM lineitem
""",
)
def lever_weighted_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted repartition actuation (reference BlockGenerator.scala:
    175-229 block-split-by-ratio, re-expressed at the shuffle boundary):
    shard lineitem under a 4:2:1 capability plan into 7 partitions, then
    aggregate per-partition row counts. Assertion of the weight contract
    lives in tests/test_lever.py; here we surface the partition layout
    as a stable (partition_count, total_rows) summary."""
    from spark_lever_spark.lever.actuator import apply_plan

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    out = apply_plan(
        spark, li, {"big": 4 / 7, "mid": 2 / 7, "small": 1 / 7}, num_partitions=7
    )
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("rows"))
    )
    return per_part.agg(
        F.count("*").alias("partition_count"),
        F.sum("rows").alias("total_rows"),
    )


@register(
    "lever_plan_proportion",
    # the controller is pure deterministic arithmetic on the fixed
    # 4-host trace below, so the oracle is its golden expected plan:
    # the slow host offloads ~97.4% to the only confirmed-fast helper
    # (formula independently derived in tests/test_lever.py). A
    # controller change that shifts any share flips this row red.
    oracle="""
SELECT * FROM (VALUES
  ('slow', 'fast', 0.9741245585662894),
  ('slow', 'm1', 0.0),
  ('slow', 'm2', 0.0),
  ('slow', 'slow', 0.025875441433710688)
) AS t(helpee, target, share)
ORDER BY helpee, target
""",
)
def lever_plan_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end controller decision on a synthetic 4-host trace
    (JobMonitor.scala:160-419 round-trip): classify -> confirm ->
    capability -> proportion plan, returned as (helpee, target, share)
    rows for inspection."""
    from spark_lever_spark.lever.balancer import LeverBalancer
    from spark_lever_spark.lever.model import BatchReport, HostSample

    runtimes = {"slow": 3000.0, "m1": 1000.0, "m2": 1050.0, "fast": 400.0}

    def report(batch_id: int) -> BatchReport:
        return BatchReport(
            batch_id=batch_id,
            total_delay_ms=max(runtimes.values()),
            processing_delay_ms=max(runtimes.values()),
            samples={
                h: HostSample(
                    host=h, runtime_ms=rt, handled_bytes=1e6, input_rate=1000.0
                )
                for h, rt in runtimes.items()
            },
        )

    bal = LeverBalancer()
    bal.on_batch(report(0))  # seeds rate history
    plan = bal.on_batch(report(1))
    rows = [
        (helpee, target, float(share))
        for helpee, shares in (plan.ratios if plan else {}).items()
        for target, share in sorted(shares.items())
    ]
    return spark.createDataFrame(
        rows, "helpee string, target string, share double"
    ).orderBy("helpee", "target")
