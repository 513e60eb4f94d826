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
- ``DynamicBatchSizer``: the SoCC'14 fixed-point batch-interval
  iteration verbatim (RecurringTimer.scala:64-86), usable to retune a
  ``processingTime`` trigger between restarts; ``adaptive_file_drain``
  runs it against a bounded file backlog.
- ``apply_plan``: the ``foreachBatch`` entry point over
  ``weighted_repartition``.

Dolly task cloning and Wrangler executor exclusion need no engine code
here: Spark's built-in ``spark.speculation`` and
``spark.excludeOnFailure.*`` confs subsume them
(TaskSchedulerImpl.scala:357-401; CoarseGrainedSchedulerBackend.scala:123-139).
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


def partition_sizes(df: DataFrame) -> list[int]:
    """Diagnostic: rows per physical partition (used by balancer tests
    and the skew bench)."""
    rows = (
        df.withColumn("__pid__", F.spark_partition_id())
        .groupBy("__pid__")
        .count()
        .collect()
    )
    return [r["count"] for r in rows]


# Measured on this stack (BASELINE.md, round-7 trigger-overhead
# decomposition): one Structured Streaming micro-batch costs ~1.58 s of
# scheduling/commit/checkpoint regardless of data volume (150k rows
# drained in 0.95 s as ONE batch vs 50 s as 32). Batch intervals below
# this floor are pure overhead on this stack — callers sizing real
# drains should pass ``min_ms=MEASURED_BATCH_OVERHEAD_MS``; the 50 ms
# constructor default preserves reference-formula parity in unit tests.
MEASURED_BATCH_OVERHEAD_MS = 1580.0


class DynamicBatchSizer:
    """SoCC'14 fixed-point batch-interval iteration
    (RecurringTimer.scala:64-86,141-167): target processing time <=
    0.75 x interval; on over-occupancy with worsening occupancy trend,
    back off to 0.75 x the previous interval, otherwise set interval to
    processing/0.75. First ``warmup`` batches keep the initial interval
    (RecurringTimer.scala:147-151)."""

    def __init__(
        self,
        initial_ms: float,
        target: float = 0.75,
        warmup: int = 5,
        min_ms: float = 50.0,
    ) -> None:
        self.interval_ms = float(initial_ms)
        self.target = target
        self.warmup = warmup
        self.min_ms = min_ms
        self._n = 0
        self._last_proc = 0.0
        self._last_batch = float(initial_ms)
        self._second_last_proc = 0.0
        self._second_last_batch = float(initial_ms)
        #: True iff the LAST on_batch call took the back-off branch
        #: (over-occupancy with a worsening occupancy trend) — the
        #: overload signal adaptive_file_drain's growth policy gates on
        self.backed_off = False

    def on_batch(self, processing_ms: float) -> float:
        """Record one batch's processing time; returns the interval to
        use for the next batch."""
        self._second_last_proc, self._last_proc = self._last_proc, processing_ms
        self._second_last_batch, self._last_batch = (
            self._last_batch,
            self.interval_ms,
        )
        self._n += 1
        self.backed_off = False
        if self._n <= self.warmup or self._second_last_proc <= 0:
            return self.interval_ms

        lp, lb = self._last_proc, self._last_batch
        sp, sb = self._second_last_proc, self._second_last_batch
        t = self.target
        if lb > sb:
            if (lp / lb > sp / sb) and (lp > t * lb):
                nxt = (1 - (1 - t)) * sb  # 0.75 x previous interval
                self.backed_off = True
            else:
                nxt = lp / t
        else:
            if (sp / sb > lp / lb) and (lp > t * lb):
                nxt = (1 - (1 - t)) * lb
                self.backed_off = True
            else:
                nxt = lp / t
        self.interval_ms = max(nxt, self.min_ms)
        return self.interval_ms


def next_drain_batch_size(
    sizer: "DynamicBatchSizer", fpt: int, remaining: int, max_files: int = 16
) -> int:
    """Backlog-drain batch-size policy, gated by the L13 sizer's
    overload predicate.

    A pure latency-targeting fixed-point (interval = proc/target) holds
    ANY batch size as an equilibrium when the load is self-induced --
    filling whatever interval it chooses reproduces the target
    occupancy, so it never discovers that bigger batches amortize the
    per-micro-batch constant c0. For a bounded BACKLOG (latency
    irrelevant, throughput everything) the right policy is geometric
    growth, with the sizer supplying the one thing the growth loop
    cannot see: the SoCC'14 overload predicate (occupancy above target
    AND worsening trend -- ``sizer.backed_off``). Grow 2x while the
    trend is healthy; hold when the sizer backs off. Clamped to
    [1, min(remaining, max_files)]."""
    if remaining <= 0:
        return 0
    nxt = fpt if sizer.backed_off else fpt * 2
    return max(1, min(remaining, max_files, nxt))


def adaptive_file_drain(
    spark: SparkSession,
    files: list[str],
    schema,
    transform,
    initial_interval_ms: float = 3000.0,
    max_files_per_batch: int = 16,
) -> dict:
    """Drain a bounded file backlog with ``DynamicBatchSizer`` gating
    the batch size -- the L13 sizer exercised in a live drain against
    the measured per-micro-batch constant (c0 = 1.58 s, BASELINE.md's
    trigger-overhead decomposition).

    Spark cannot change ``maxFilesPerTrigger`` inside a running query,
    so each decision becomes one RESTART SEGMENT: symlink the next
    ``fpt`` backlog files into the staging dir, run one availableNow
    micro-batch over them (the file source's checkpoint is REUSED
    across segments, so only new files are read), feed the measured
    processing time to the sizer, and let ``next_drain_batch_size``
    grow/hold the next segment. Against a fixed 1-file-per-trigger
    drain the predicted win is ``(n_files - n_segments) * c0`` --
    every batch the policy eliminates repays one scheduling constant;
    the per-row work is identical by construction.

    ``transform`` maps the streaming source DataFrame to the query to
    drain (an incremental aggregation; drained in update mode).
    Returns ``{"segments": [(files, proc_ms), ...], "sec": total}``.
    """
    import os
    import shutil
    import tempfile
    import time

    staging = tempfile.mkdtemp(prefix="adaptive_drain_src_")
    ck = tempfile.mkdtemp(prefix="adaptive_drain_ck_")
    sizer = DynamicBatchSizer(initial_interval_ms, warmup=1)
    remaining = list(files)
    segments: list[tuple[int, float]] = []
    fpt = 1
    t_start = time.perf_counter()
    try:
        while remaining:
            batch, remaining = remaining[:fpt], remaining[fpt:]
            for f in batch:
                os.symlink(f, os.path.join(staging, os.path.basename(f)))
            sdf = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", str(len(batch)))
                .parquet(staging)
            )
            t0 = time.perf_counter()
            q = (
                transform(sdf)
                .writeStream.foreachBatch(lambda df, _eid: df.count())
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination()
            proc_ms = (time.perf_counter() - t0) * 1000.0
            segments.append((len(batch), round(proc_ms, 1)))
            sizer.on_batch(proc_ms)
            fpt = next_drain_batch_size(
                sizer, fpt, len(remaining), max_files_per_batch
            )
        return {
            "segments": segments,
            "sec": round(time.perf_counter() - t_start, 3),
        }
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def apply_plan(
    spark: SparkSession,
    df: DataFrame,
    weights: dict[str, float],
    num_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Convenience: weighted repartition sized to the session's shuffle
    parallelism. Intended use inside ``foreachBatch`` ahead of the heavy
    stage:

        def handle(batch_df, batch_id):
            balanced = apply_plan(spark, batch_df, balancer_weights)
            ... heavy aggregation ...
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return weighted_repartition(df, weights, num_partitions, seed)
