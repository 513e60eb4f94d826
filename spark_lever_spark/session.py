"""SparkSession construction with scale-oriented defaults.

The reference engine's runtime knobs (SQLConf.scala:26-47 in the
reference tree) map to modern Spark configs; we set the modern
equivalents plus the adaptive-execution family that subsumes much of
the reference's hand-rolled rebalancing (SURVEY.md §4.3).

Defaults are chosen for the 100 TB design point and scale *down*
gracefully to local[k] test runs:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting:
  the built-in half of what the reference's Lever runtime did by
  migrating receiver blocks).
- Arrow on (every Python-side operator in this engine that cannot be
  expressed in built-in functions uses pandas UDFs, never row-at-a-time
  Python UDFs).
- shuffle partitions default to a small multiple of local cores for
  tests; on a real cluster you'd set ``spark_lever.shuffle.partitions``
  to ~2-3x total executor cores and let AQE coalesce.
- the generated-class cache sized to the engine's working set, and
  class names free of stage ids: a recurring query mix reuses its
  compiled whole-stage-codegen classes instead of recompiling them
  with Janino on every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Adaptivity: subsumes reference Exchange sizing + part of Lever.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: reference default was 10MB
    # (SQLConf.scala:29); modern default 10MB too — raise a bit since
    # dim tables (region/nation/supplier/part) are tiny relative to
    # fact tables at every scale we target.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Timestamps: parquet test data is timezone-naive; pin session TZ
    # so results agree with the DuckDB oracle byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny test files produce one giant partition each.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The synthetic `events` table stores TIMESTAMP(NANOS) which the
    # vectorized reader rejects; read as long and convert in the
    # catalog (catalog.load_table) — DuckDB truncates nanos->micros the
    # same way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Compiled whole-stage-codegen classes live in an LRU cache of
    # 100 entries by default (static conf). One pass of perfbench's
    # 16-query mix generates 272-285 distinct classes, so every pass
    # evicted and recompiled all of them (about 280 Janino compiles,
    # a third of the pass). 2000 holds that working set several times
    # over.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # The cache is keyed by source text, and by default the class name
    # embeds the codegen stage id. AQE numbers stages in the order
    # their shuffle inputs finish, so a query with two independent
    # branches (pack_documents_2048) generated a new class name, and
    # recompiled, on a pass where the other branch finished first.
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_session(
    app_name: str = "spark_lever_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*])
    when no cluster master is configured — on a real deployment the
    master comes from spark-submit and this argument is ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local test default: match core count so no partition sits idle
        # and AQE has room to coalesce. Cluster deployments override.
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # The Python workers import this package (the graph kernels and the
    # multimodal decoders are package functions): put its root on their
    # path, so they find it whatever directory the driver started in.
    conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    if master.startswith("local"):
        # local mode: the driver JVM IS the executor; Spark's 1g default
        # heap OOMs on wide-shuffle workloads long before the machine
        # does. Only effective at JVM launch — a pre-existing session
        # keeps its heap. Cluster deployments size executors explicitly.
        conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
