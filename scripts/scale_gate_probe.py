"""Validate the single-task-kernel gate boundary ABOVE 2M edges:
synthesize a co-purchase input whose support-2 edge table exceeds
_LOCAL_GRAPH_MAX_EDGES, confirm the registered query picks the
DISTRIBUTED loop on its own, then force the kernel on the same input
and compare rows + timings. Also exercises
connected_components' contraction + star-loop path on a >2M-edge
graph against the forced kernel finisher.

The synthetic graph is a deterministic path-with-chords: edge i joins
parts (i, i+1) (a 2.5M-node path, worst case for contraction depth)
plus every 1000th node gets a chord to node 0 (so the component is
re-joined fast and the star loop has real work). Every edge appears
in exactly two distinct orders, passing the support >= 2 filter.

Usage: python scripts/scale_gate_probe.py [n_edges]   (default 2.5M)
Writes timings to stdout.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

N_EDGES = int(sys.argv[1]) if len(sys.argv) > 1 else 2_500_000
WORKDIR = "/tmp/scale_gate_probe"


def main() -> None:
    from pyspark.sql import functions as F

    from spark_lever_spark.catalog import checkpoint
    from spark_lever_spark.session import get_session
    from spark_lever_spark.llm import graph

    spark = get_session(
        app_name="scale-gate-probe", master="local[32]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- synthesize lineitem: edge i = (i, i+1), orders 2i and 2i+1
    # each holding both parts -> support exactly 2 per distinct pair.
    e = spark.range(N_EDGES).select(F.col("id").alias("i"))
    rows = e.select(
        F.explode(
            F.array(
                F.struct((2 * F.col("i")).alias("l_orderkey"),
                         F.col("i").alias("l_partkey")),
                F.struct((2 * F.col("i")).alias("l_orderkey"),
                         (F.col("i") + 1).alias("l_partkey")),
                F.struct((2 * F.col("i") + 1).alias("l_orderkey"),
                         F.col("i").alias("l_partkey")),
                F.struct((2 * F.col("i") + 1).alias("l_orderkey"),
                         (F.col("i") + 1).alias("l_partkey")),
            )
        ).alias("r")
    ).select("r.l_orderkey", "r.l_partkey")
    rows.repartition(32).write.mode("overwrite").parquet(
        f"{WORKDIR}/lineitem.parquet"
    )
    print(f"synth lineitem written: {4 * N_EDGES} rows, "
          f"{N_EDGES} distinct support-2 edges", flush=True)

    und = graph.copurchase_edges(spark, WORKDIR)
    n = und.count()
    print(f"copurchase_edges: {n} edges (gate {graph._LOCAL_GRAPH_MAX_EDGES})",
          flush=True)
    assert n > graph._LOCAL_GRAPH_MAX_EDGES, "probe must exceed the gate"

    def timed(tag, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        print(f"{tag}: {dt:.2f} s", flush=True)
        return out, dt

    # --- pagerank: natural path (distributed loop — the query's own
    # gate must choose it), then the kernel forced on the same input.
    loop_rows, t_loop = timed(
        "pagerank DISTRIBUTED loop (natural gate choice)",
        lambda: graph.pagerank_copurchase(spark, WORKDIR).collect(),
    )
    old = graph._LOCAL_GRAPH_MAX_EDGES
    graph._LOCAL_GRAPH_MAX_EDGES = 1 << 40
    try:
        kern_rows, t_kern = timed(
            "pagerank KERNEL (forced above gate)",
            lambda: graph.pagerank_copurchase(spark, WORKDIR).collect(),
        )
    finally:
        graph._LOCAL_GRAPH_MAX_EDGES = old
    assert loop_rows == kern_rows, "kernel != loop above the gate"
    print(f"pagerank rows identical ({len(loop_rows)}); "
          f"loop/kernel = {t_loop:.2f}/{t_kern:.2f} s", flush=True)

    # --- connected components on the raw >2M-edge pair table:
    # natural path (contraction + star loop / kernel finisher on the
    # contracted graph), then the kernel forced DIRECTLY on the raw
    # edges (no contraction) for the timing comparison.
    pairs = checkpoint(und)
    cc_nat, t_nat = timed(
        "connected_components natural (contract gate decides)",
        lambda: sorted(
            graph.connected_components(pairs, src="pa", dst="pb").collect()
        ),
    )
    old_ct = graph._CONTRACT_MIN_EDGES
    graph._LOCAL_GRAPH_MAX_EDGES = 1 << 40
    graph._CONTRACT_MIN_EDGES = 1 << 40  # no contraction: raw kernel
    try:
        cc_kern, t_ck = timed(
            "connected_components RAW KERNEL (forced, no contraction)",
            lambda: sorted(
                graph.connected_components(pairs, src="pa", dst="pb").collect()
            ),
        )
    finally:
        graph._LOCAL_GRAPH_MAX_EDGES = old
        graph._CONTRACT_MIN_EDGES = old_ct
    assert cc_nat == cc_kern, "CC kernel != natural path"
    print(f"CC rows identical ({len(cc_nat)}); "
          f"natural/raw-kernel = {t_nat:.2f}/{t_ck:.2f} s", flush=True)


if __name__ == "__main__":
    main()
