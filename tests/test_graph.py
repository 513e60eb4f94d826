"""Connected components (llm/graph.py): generic large-star/small-star
iteration cross-checked against a driver-side union-find on seeded
random graphs, plus the worst-case shapes (long paths) that punish
naive label propagation."""

from __future__ import annotations

import random

import pytest

from spark_lever_spark import registry
from spark_lever_spark.llm.graph import connected_components
from tests.plans import PinAudit


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative, only for nodes that appear in an edge
    seen = {x for e in edges for x in e}
    return {x: find(x) for x in sorted(seen)}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = connected_components(df).collect()
    return {r.node: r.component for r in got}


def test_cc_matches_union_find_on_random_graph(spark):
    rng = random.Random(42)
    n = 200
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_spark(spark, edges) == _union_find_components(n, edges)


def test_cc_path_graph_converges_logarithmically(spark, monkeypatch):
    # a single 64-node path: diameter 63, but the star loop must finish
    # in far fewer than diameter rounds (a budget of 10 ~ O(log n))
    from spark_lever_spark.llm import graph

    monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "_CC_MAX_ITER", 10)
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_spark(spark, edges)
    assert got == {i: 0 for i in range(64)}


def test_cc_two_components_and_descending_edges(spark):
    edges = [(5, 3), (3, 9), (20, 11), (11, 20)]
    got = _cc_spark(spark, edges)
    assert got == {3: 3, 5: 3, 9: 3, 11: 11, 20: 11}


def test_cc_raises_when_iteration_budget_exhausted(spark, monkeypatch):
    # the iteration budget belongs to the distributed star loop — force
    # it (round 18: small graphs take the single-task kernel, which
    # always converges)
    from spark_lever_spark.llm import graph

    monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "_CC_MAX_ITER", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df)


def test_cc_star_loop_matches_local_kernel(spark, monkeypatch):
    """Round 18: small graphs finish in the single-task vectorized
    kernel; the distributed star loop must stay pinned to the SAME
    labels on the same seeded graph (plus a path, the
    pointer-jumping worst case)."""
    from spark_lever_spark.llm import graph

    rng = random.Random(44)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    path = [(i, i + 1) for i in range(63)]
    for g in (edges, path):
        local = _cc_spark(spark, g)
        monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
        star = _cc_spark(spark, g)
        monkeypatch.undo()
        assert star == local == _union_find_components(n, g)


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_converges_exactly_at_budget(spark, monkeypatch):
    # a single edge's star forms in round 1; detection costs one more
    # comparison pass, which must not count against the budget
    from spark_lever_spark.llm import graph

    monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "_CC_MAX_ITER", 1)
    got = _cc_spark(spark, [(0, 1)])
    assert got == {0: 0, 1: 0}


def test_cc_contracted_path_matches_union_find(spark, monkeypatch):
    """The hash-to-min pre-contraction is conditional on edge count
    (round 18: skipped below _CONTRACT_MIN_EDGES, where its eager
    materializations cannot amortize) — so the default-threshold tests
    above now exercise only the direct star loop. Force the thresholds
    (kernel off, contraction floor 0) so the CONTRACTED + star path
    stays pinned against union-find on the same seeded random graph
    and the tie shapes; then force contract-then-KERNEL (the at-scale
    shape: contraction shrinks the graph under the kernel bound and
    the kernel finishes it) on the same graphs."""
    from spark_lever_spark.llm import graph

    monkeypatch.setattr(graph, "_CONTRACT_MIN_EDGES", 0)
    monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "_CC_MAX_ITER", 10)
    rng = random.Random(43)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_spark(spark, edges) == _union_find_components(n, edges)
    # descending edges + two components through the label-relabel path
    edges2 = [(5, 3), (3, 9), (20, 11), (11, 20)]
    assert _cc_spark(spark, edges2) == {3: 3, 5: 3, 9: 3, 11: 11, 20: 11}
    # a path graph: the contraction halves it, the star loop finishes
    edges3 = [(i, i + 1) for i in range(63)]
    assert _cc_spark(spark, edges3) == {i: 0 for i in range(64)}
    # contract-then-kernel: threshold between the contracted size and
    # the input size, so the contraction fires AND the kernel finishes
    monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", 40)
    assert _cc_spark(spark, edges3) == {i: 0 for i in range(64)}
    assert _cc_spark(spark, edges) == _union_find_components(n, edges)


def _rows_leaving_no_stray_pins(spark, sf_dir, name):
    """Run the registered query ``name`` and collect its rows; fail if it
    leaves a pin behind that its returned frame does not read."""
    pins = PinAudit(spark)
    df = registry.all_queries()[name].fn(spark, sf_dir)
    rows = df.collect()
    stray = pins.stray(df)
    assert not stray, f"{name} left {stray} pinned that its frame does not read"
    return rows


def test_iterative_graph_kernels_match_distributed_loops(
    spark, sf_dir, monkeypatch
):
    """Round 18: below _LOCAL_GRAPH_MAX_EDGES the bounded-rounds graph
    recursions (PageRank, PPR, LPA, HITS, BFS census, sampled-BFS
    harmonic closeness) finish in a single-task vectorized kernel.
    The distributed per-round join loop must stay pinned to IDENTICAL
    rows on the smoke corpus — every recursion is integer-exact, so
    the two paths may not differ by even one unit. Neither path may
    leave a pin its returned frame does not read."""
    from spark_lever_spark.llm import graph

    names = [
        "pagerank_copurchase",
        "personalized_pagerank_copurchase",
        "lpa_communities_copurchase",
        "hits_hubs_authorities_purchases",
        "bfs_hops_copurchase",
        "harmonic_closeness_sampled_bfs",
        "kcore_peel_copurchase",  # r19: same kernel doctrine
    ]
    for name in names:
        fast = _rows_leaving_no_stray_pins(spark, sf_dir, name)
        monkeypatch.setattr(graph, "_LOCAL_GRAPH_MAX_EDGES", -1)
        slow = _rows_leaving_no_stray_pins(spark, sf_dir, name)
        monkeypatch.undo()
        assert fast == slow, name
        assert len(fast) > 0, name


def test_diameter_releases_its_pins(spark, sf_dir):
    """The double-sweep diameter builds its one result row from driver
    values, so no cached or checkpointed RDD of its sweeps may outlive
    the call."""
    assert _rows_leaving_no_stray_pins(
        spark, sf_dir, "diameter_double_sweep_copurchase"
    )
