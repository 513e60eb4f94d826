"""Spark-side actuation of a Lever plan.

The reference migrated receiver blocks between hosts before scheduling
(BlockGenerator.scala:175-229, BlockManager.scala:921-976). Structured
Streaming / the DataFrame runtime owns source->partition placement, so
the equivalent lever here is the *shuffle boundary*: ``apply_plan``
re-shards a micro-batch so each host's share of partitions (and rows)
follows the balancer's weight vector. On a cluster, fewer/lighter
partitions on a straggler host means its tasks finish with everyone
else — same objective as block migration (equal per-node finish time),
actuated one stage later. perfbench's stream-lever loop calls it on
every micro-batch.

The bucket -> partition map needs one int token per partition whose
Spark ``hash`` lands on that partition. ``spark_hash_int`` computes
Spark's hash in Python, so building the repartition runs no Spark job.

SoCC'14 batch sizing, Dolly task cloning and Wrangler executor
exclusion have no engine code: a running Structured Streaming query
cannot change its trigger interval, and Spark's built-in
``spark.speculation`` and ``spark.excludeOnFailure.*`` confs subsume
the other two (TaskSchedulerImpl.scala:357-401;
CoarseGrainedSchedulerBackend.scala:123-139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def spark_hash_int(i: int) -> int:
    """Spark SQL ``hash(i)`` for an INT ``i``:
    ``Murmur3_x86_32.hashInt(i, 42)``, as a signed 32-bit int."""
    k = _rotl32((i * 0xCC9E2D51) & _M32, 15) * 0x1B873593 & _M32
    h = (_rotl32(42 ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & _M32
    h ^= h >> 13
    h = h * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def partition_tokens(num_partitions: int) -> list[int]:
    """Token j is the smallest int t >= 0 with
    pmod(hash(t), num_partitions) == j, so hash-repartitioning on the
    token is an identity bucket -> partition map."""
    found: dict[int, int] = {}
    t = 0
    while len(found) < num_partitions:
        found.setdefault(spark_hash_int(t) % num_partitions, t)
        t += 1
    return [found[j] for j in range(num_partitions)]


def partition_counts(weights: dict[str, float], total_partitions: int) -> dict[str, int]:
    """Largest-remainder apportionment of ``total_partitions`` across
    hosts proportional to weight; every host gets >= 1 partition."""
    hosts = sorted(weights)
    if not hosts:
        return {}
    total_w = sum(max(weights[h], 0.0) for h in hosts) or 1.0
    raw = {h: max(weights[h], 0.0) / total_w * total_partitions for h in hosts}
    counts = {h: max(int(raw[h]), 1) for h in hosts}
    # distribute the remainder to the largest fractional parts
    while sum(counts.values()) < total_partitions:
        h = max(hosts, key=lambda x: raw[x] - counts[x])
        counts[h] += 1
    while sum(counts.values()) > total_partitions and any(
        c > 1 for c in counts.values()
    ):
        h = min(
            (x for x in hosts if counts[x] > 1), key=lambda x: raw[x] - counts[x]
        )
        counts[h] -= 1
    return counts


def apply_plan(
    spark: SparkSession,
    df: DataFrame,
    weights: dict[str, float],
    num_partitions: int,
) -> DataFrame:
    """Re-shard ``df`` into ``num_partitions`` partitions whose *count
    per host* follows ``weights`` while keeping every partition roughly
    equal-sized: host i owns n_i = apportion(w_i) contiguous bucket ids
    and receives fraction w_i of the rows, spread uniformly over its
    buckets. Called inside ``foreachBatch`` ahead of the heavy stage:

        def handle(batch_df, batch_id):
            balanced = apply_plan(spark, batch_df, weights, num_partitions=n)
            ... heavy stage ...

    Mechanism: u ~ rand(42) per row; the bucket is the number of
    cumulative per-bucket bounds (w_i / n_i each) at or below u; the
    bucket's token (``partition_tokens``) then places it on its own
    partition under ``repartition(P, token)`` — exact, unlike range
    partitioning, whose sampled bounds can merge adjacent buckets. The
    partitioning key is one built-in SQL expression, so the only cost is
    the one shuffle we are deliberately inducing.
    """
    counts = partition_counts(weights, num_partitions)
    if not counts:
        return df
    hosts = sorted(counts)
    total_w = sum(max(weights[h], 0.0) for h in hosts) or 1.0
    # per-bucket cumulative upper bounds, buckets laid out host-major
    bounds: list[float] = []
    acc = 0.0
    for h in hosts:
        w = max(weights[h], 0.0) / total_w
        for _ in range(counts[h]):
            acc += w / counts[h]
            bounds.append(acc)
    bounds[-1] = 1.0 + 1e-9
    total = len(bounds)
    tokens = ", ".join(map(str, partition_tokens(total)))
    # DOUBLE literals, or the bounds would parse as DECIMAL
    bounds_sql = ", ".join(f"{b!r}D" for b in bounds)
    # materialize the draw once per row BEFORE referencing it inside the
    # lambda — a bare rand() inside the higher-order function would be
    # re-evaluated per array element
    token = F.expr(
        f"element_at(array({tokens}), "
        f"size(filter(array({bounds_sql}), b -> b <= __lever_u__)) + 1)"
    )
    return (
        df.withColumn("__lever_u__", F.rand(42))
        .repartition(total, token)
        .drop("__lever_u__")
    )
