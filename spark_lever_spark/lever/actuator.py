"""Spark-side actuation of a Lever plan.

The reference migrated receiver blocks between hosts before scheduling
(BlockGenerator.scala:175-229, BlockManager.scala:921-976). Structured
Streaming / the DataFrame runtime owns source->partition placement, so
the equivalent lever here is the *shuffle boundary*:

- ``weighted_repartition``: re-shard a DataFrame so each host's share
  of partitions (and rows) follows the balancer's weight vector. On a
  cluster, fewer/lighter partitions on a straggler host means its tasks
  finish with everyone else — same objective as block migration (equal
  per-node finish time), actuated one stage later.
- ``apply_plan``: the ``foreachBatch`` entry point over
  ``weighted_repartition``; perfbench's stream-lever loop calls it on
  every micro-batch.

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


_TOKEN_CACHE: dict[int, list[int]] = {}


def _partition_tokens(spark: SparkSession, num_partitions: int) -> list[int]:
    """One int token per partition j with pmod(murmur3(token), P) == j,
    so hash-repartitioning on the token is an identity bucket->partition
    map. Resolved once per P with a tiny Spark job (murmur3's seed is
    fixed, so tokens are stable across sessions) and cached."""
    cached = _TOKEN_CACHE.get(num_partitions)
    if cached is not None:
        return cached
    found: dict[int, int] = {}
    probe, span = 0, max(64 * num_partitions, 1024)
    while len(found) < num_partitions:
        rows = (
            spark.range(probe, probe + span)
            .select(
                F.col("id").cast("int").alias("tok"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(num_partitions)).alias("p"),
            )
            .collect()
        )
        for r in rows:
            found.setdefault(r["p"], r["tok"])
        probe += span
    tokens = [found[j] for j in range(num_partitions)]
    _TOKEN_CACHE[num_partitions] = tokens
    return tokens


def weighted_repartition(
    df: DataFrame,
    weights: dict[str, float],
    num_partitions: int,
    seed: int = 42,
) -> DataFrame:
    """Re-shard ``df`` into ``num_partitions`` partitions whose *count
    per host* follows ``weights`` while keeping every partition roughly
    equal-sized: host i owns n_i = apportion(w_i) contiguous bucket ids
    and receives fraction w_i of the rows, spread uniformly over its
    buckets.

    Mechanism: u ~ rand(seed) per row; bucket chosen by cumulative
    per-bucket probability (w_i / n_i each) via a boundary array; the
    bucket id is then mapped to a precomputed integer *token* whose
    murmur3 hash lands exactly on the intended partition
    (pmod(hash(token), P) == bucket), so ``repartition(P, token)``
    places each bucket on its own partition — exact, unlike range
    partitioning, whose sampled bounds can merge adjacent buckets. All
    expressions are built-ins — no Python UDF in the path — so the only
    cost is the one shuffle we are deliberately inducing.
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
    bounds_arr = F.array(*[F.lit(b) for b in bounds])
    # materialize the draw once per row BEFORE referencing it inside the
    # lambda — a bare rand() inside the higher-order function would be
    # re-evaluated per array element
    tagged = df.withColumn("__lever_u__", F.rand(seed))
    bucket = F.aggregate(
        F.filter(bounds_arr, lambda b: b <= F.col("__lever_u__")),
        F.lit(0),
        lambda n, _: n + 1,
    )
    total = sum(counts.values())
    tokens = _partition_tokens(df.sparkSession, total)
    token_arr = F.array(*[F.lit(t) for t in tokens])
    return (
        tagged.withColumn(
            "__lever_tok__", F.element_at(token_arr, bucket + 1)
        )
        .repartition(total, "__lever_tok__")
        .drop("__lever_tok__", "__lever_u__")
    )


def apply_plan(
    spark: SparkSession,
    df: DataFrame,
    weights: dict[str, float],
    num_partitions: int,
) -> DataFrame:
    """Weighted repartition of one micro-batch ahead of its heavy stage,
    called inside ``foreachBatch``:

        def handle(batch_df, batch_id):
            balanced = apply_plan(spark, batch_df, weights, num_partitions=n)
            ... heavy stage ...
    """
    return weighted_repartition(df, weights, num_partitions)
