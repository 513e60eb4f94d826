"""Distributed connected components + duplicate-cluster extraction.

LSH/minhash dedup (llm/dedup.py) stops at candidate *pairs*; a real
corpus-scale dedup pipeline must transitively close those pairs into
duplicate clusters and elect one canonical document per cluster. The
reference engine has no graph operator for this (its GraphX tree is
stock upstream code, SURVEY.md §2.I), so this module is part of the
LLM-pipeline extension (SURVEY.md §7 P5).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed in
pure DataFrame ops. Each half-round is one hash shuffle on the
grouping node (a partition-wide window min) plus a distinct; the edge
set converges to a star forest in O(log n) rounds even on worst-case
path graphs — this is the property that makes it the 100 TB choice
over naive label propagation, whose round count is the graph diameter.
Lineage is truncated with ``localCheckpoint`` every round so the plan
does not compound across iterations (on a cluster you would use
reliable ``checkpoint`` with an HDFS dir instead).

Co-purchase graph statistics: clustering coefficient, rich-club
profile, 3-truss peel, preferential attachment, double-sweep diameter
bound, configuration-model triangle excess.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table, spread_scan
from spark_lever_spark.functions.exact import spark_sql
from spark_lever_spark.registry import register


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``-ed DataFrame's cached blocks NOW.

    ``df.unpersist()`` is a no-op for checkpoints (the blocks belong to
    the internal RDD behind the LogicalRDD plan node, not the
    cache-manager), and GC-driven cleanup can lag a whole registry
    sweep — in a long one-session run the per-query blocks accumulate.
    Reaches the internal RDD handle; degrades to the GC path if the
    internals move.

    CONTRACT (ADVICE r7): the released DataFrame must NEVER be
    referenced again. A localCheckpoint truncates lineage, so the
    released blocks are the ONLY copy of the data — any later action on
    ``df`` (or a frame derived from it) fails with missing-block
    errors. Callers release a frame only after every downstream
    consumer has materialized (the per-round iteration pattern in this
    module: checkpoint round N+1, then release round N)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # pragma: no cover - internals moved
        # Degrade to the GC path, but LOUDLY at debug level so a real
        # py4j/JVM failure is visible instead of silently swallowed
        # (ADVICE r7). AttributeError / Py4JError both mean "the
        # internal handle moved"; anything else still only costs
        # delayed block cleanup, never correctness.
        logging.getLogger(__name__).debug(
            "release_local_checkpoint: falling back to GC cleanup: %r", exc
        )


def copurchase_edges(
    spark: SparkSession, sf_dir: str, min_support: int = 2,
    pinned: bool = False,
) -> DataFrame:
    """Canonical support-thresholded co-purchase edge table
    ``(pa, pb)`` with pa < pb and >= ``min_support`` co-orders — the
    shared input of every graph-family query.

    Optimization r18 (guide §2.4 remove shuffles): built shuffle-lean
    as ONE orderkey aggregation collecting each order's distinct part
    set (collect_set partially aggregates map-side), local array
    self-pairing via nested transform (pa < pb by array_sort order —
    a per-row HOF, no join), and ONE map-side-combinable (pa, pb)
    support count. The previous distinct + self-join + count chain
    paid three shuffles and a join for the identical pair multiset
    (row-set equality pinned in tests/test_graph.py); per-order part
    arrays are basket-sized, so the explode fan-out is the same
    Σ C(n_i, 2) rows the join produced, generated in place. Warm A/B
    at sf0.1: 4.15 -> 2.45 s for the bare build.

    The scan is spread to session parallelism ON the basket key before
    the aggregation (optimization r18, catalog.spread_scan): the test
    parquet carries one row group per file, capping the collect_set
    map side at one task per file; hashing on l_orderkey lets the
    groupBy reuse the exchange, so the build still pays exactly one
    shuffle and the basket CPU runs on every core."""
    li = spread_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ),
        key="l_orderkey",
    )
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = parts.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i.cast("int") + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                    ),
                )
            )
        ).alias("e")
    ).select("e.pa", "e.pb")
    out = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_support)
        .select("pa", "pb")
    )
    if pinned:
        # Multi-consumer queries (triangle family: 4-7 plan branches
        # each replaying the build) materialize the support-pruned
        # edge table ONCE — it is graph-sized, orders of magnitude
        # smaller than lineitem, so the checkpoint is cheap at any
        # scale and each branch reads a LogicalRDD instead of
        # re-running the basket aggregation (guide §5 recompute
        # elimination; measured in a same-session A/B).
        out = out.localCheckpoint(eager=True)
    return out


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node, link every strictly-larger neighbor to the
    minimum of its neighborhood (including itself).

    No terminal ``.distinct()`` (optimization r18, guide §2.4): the
    only consumer is ``_small_star``, whose window-min is
    duplicate-insensitive and which ends in its own ``.distinct()`` —
    so the half-round's edge-grain dedup shuffle bought nothing. Two
    distinct centers u1 != u2 can emit the same (v, m) pair, so the
    output may carry duplicates (bounded by deg(v)); the per-round
    convergence check in ``connected_components`` compares only
    small-star outputs, which stay distinct sets."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; for each node, link it and all its
    smaller neighbors to the minimum of those neighbors."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    withm = oriented.withColumn("m", F.min("v").over(w))
    nbr = withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    center = withm.select("u", F.col("m").alias("v"))
    return nbr.union(center).filter(F.col("u") != F.col("v")).distinct()


# Below this edge count the hash-to-min pre-contraction is skipped: its
# fixed overhead (a symmetric union + groupBy-min, two relabel joins and
# two eager localCheckpoint materializations) cannot amortize on small
# graphs.  Calibrated by a same-tree, same-session A/B at sf0.1
# (min-of-N clearCache'd reads):
#   dbscan_box_clusters_errors (~192k-edge core graph):
#     contract-always 8.97 s / contract-never 7.69 s / conditional 7.52 s
#   dedup_cluster_quality_election (3.67M-pair graph):
#     contract-always min-of-3 7.45 s / contract-never min-of-3 8.16 s
# so the threshold sits between those two graph sizes; at cluster scale
# the contraction's map-side-combinable shuffle is the right shape for
# any graph large enough to cross it.
_CONTRACT_MIN_EDGES = 1_000_000

# At or below this (post-contraction) edge count the star loop is
# replaced by a SINGLE-TASK vectorized min-label kernel (optimization
# r18, guide §1.2 "the distributed algorithm" + §4.2 native batch
# code): every star round costs ~3 shuffle stages plus 2 job
# dispatches, so a small graph pays pure scheduling latency — the
# dominant cost of dbscan's CC (measured 104 stages for 31 core-s of
# work) and of every post-contraction election-class graph (3.67M
# pairs contract to 3,864 edges, then the loop ran ~5 more rounds).
# This is the same move a cluster-scale CC makes after contraction:
# once the graph fits one task, finish it there. 2M edges is ~32 MB
# of Arrow payload — bounded by construction, same class as a
# broadcast side.
_LOCAL_CC_MAX_EDGES = 2_000_000


def _cc_local_labels(e: DataFrame) -> DataFrame:
    """Single-task CC over a bounded edge frame: ``(cnode, component)``
    with component = min node id, exactly the star-loop fixpoint's
    output grain. The kernel is vectorized min-label propagation with
    pointer-jumping to fixpoint each round (hash-to-min; O(log n)
    rounds, each O(E+N) in numpy) — no per-row Python. Exactness:
    labels start at identity, are componentwise non-increasing, and a
    fixpoint under edge-relax + pointer-jumping forces equal labels on
    every edge, hence constant per component and equal to the
    component minimum (the minimum can never decrease)."""

    def part(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(np.int64))
            vs.append(b["v"].to_numpy(np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        eu, ev = inv[: u.size], inv[u.size :]
        p = np.arange(nodes.size, dtype=np.int64)
        for _ in range(64):
            mn = np.minimum(p[eu], p[ev])
            p_new = p.copy()
            np.minimum.at(p_new, eu, mn)
            np.minimum.at(p_new, ev, mn)
            while True:
                nxt = p_new[p_new]
                if np.array_equal(nxt, p_new):
                    break
                p_new = nxt
            if np.array_equal(p_new, p):
                break
            p = p_new
        else:  # pragma: no cover — monotone labels cannot cycle
            raise RuntimeError("local CC kernel did not converge")
        yield pd.DataFrame({"cnode": nodes, "component": nodes[p]})

    # coalesce, not repartition: the input is localCheckpoint-ed, so
    # collapsing to one partition constrains nothing upstream and
    # skips the keyless-repartition pre-sort (guide §2.5).
    return e.coalesce(1).mapInPandas(part, "cnode long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return ``(node, component)`` where component is the minimum node
    id in each connected component. Nodes that appear in no edge are
    absent — callers left-join and coalesce to self for isolated nodes.
    """
    # No .distinct() here (optimization r18, guide §2.4): every edge
    # consumer in this repo already feeds unique pairs, and duplicates
    # are harmless anyway — the contraction's groupBy-min is
    # duplicate-insensitive and every star round ends in its own
    # .distinct(), so round-1 output is duplicate-free regardless. The
    # old edge-grain distinct was a full extra shuffle+dedup of the
    # input (measured 1.8 s of the election CC at sf0.1). The
    # localCheckpoint stays: it pins the (possibly expensive) upstream
    # pipeline so the contraction/star passes never replay it.
    # Convergence safety with a duplicated input: the round-1 count
    # comparison may report a spurious "changed" (raw count vs distinct
    # count), which only costs one extra star round; from round 2 on
    # both sides of the check are distinct sets. _CONTRACT_MIN_EDGES
    # now gates on the RAW edge count — same order of magnitude for
    # every in-repo caller (their inputs are pre-deduplicated).
    e0 = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    n_edges = e0.count()
    # Hash-to-min pre-contraction (round 17; made conditional round 18).
    # The first star round used to pay an edge-grain symmetric WINDOW
    # over the raw pair table (2.7 s of the election query's CC at
    # sf0.1 — 3.67M pairs sorted twice and distinct-ed at edge grain);
    # a min-neighbor label is the same contraction but via a map-side-
    # COMBINABLE aggregation, so the shuffle carries near-node-grain
    # partials instead. label(u) = min(N(u) ∪ {u}) is in u's component
    # by construction, the true component minimum M has label(M) = M,
    # and relabeled edges keep all connectivity — so star-looping the
    # contracted graph and mapping back through the label table is
    # exact (pinned against union-find in tests/test_graph.py, and
    # every CC consumer is oracle-hash-checked).  On graphs below
    # _CONTRACT_MIN_EDGES the star loop runs directly on e0 — the
    # contraction's fixed materialization cost dominates there.
    # (r18 second-pass A/B, measured and REJECTED: skipping the
    # contraction for kernel-sized graphs and feeding the raw 3.67M
    # election pairs straight to the kernel read 11.0 vs 5.86 s —
    # np.minimum.at over multi-million-edge arrays loses badly to the
    # map-side-combinable distributed contraction, which hands the
    # kernel a ~4k-edge graph instead.)
    contracted = n_edges >= _CONTRACT_MIN_EDGES
    if contracted:
        sym0 = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lab = (
            sym0.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
            .localCheckpoint()
        )
        la = lab.select(F.col("u").alias("ua"), F.col("m").alias("ma"))
        lb = lab.select(F.col("u").alias("ub"), F.col("m").alias("mb"))
        e = (
            e0.join(la, e0.u == F.col("ua"))
            .join(lb, e0.v == F.col("ub"))
            .select(F.col("ma").alias("u"), F.col("mb").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        n_edges = e.count()
        release_local_checkpoint(e0)  # lab + contracted edges materialized
    else:
        lab = None
        e = e0
    if n_edges <= _LOCAL_CC_MAX_EDGES:
        # Single-task finisher (see _LOCAL_CC_MAX_EDGES): one Arrow
        # transfer + one vectorized kernel replaces ~5 star rounds of
        # 3 shuffles + 2 jobs each. Eagerly pinned so the edge blocks
        # release now and consumers never replay the Python stage.
        comp_c = _cc_local_labels(e).localCheckpoint()
        release_local_checkpoint(e)
    else:
        # max_iter + 1 passes: detecting the fixpoint costs one
        # comparison round beyond the round that PRODUCES it, so a
        # graph converging exactly at the budget must not be reported
        # as divergent
        for _ in range(max_iter + 1):
            e_next = _small_star(_large_star(e)).localCheckpoint()
            # Both sides are distinct sets, so equal cardinality plus
            # one-direction containment proves set equality — one
            # count (cheap agg) replaces one of the two exceptAll
            # jobs, and the except is skipped entirely when the counts
            # already differ.
            n_next = e_next.count()
            changed = n_next != n_edges or not e_next.exceptAll(e).isEmpty()
            release_local_checkpoint(e)  # predecessor blocks free NOW
            e, n_edges = e_next, n_next
            if not changed:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        # Fixpoint is a star forest oriented node -> root (= component
        # min) over the (possibly contracted) node set; when the
        # pre-contraction ran, map every original node back through
        # its label. Labels whose contracted node touched no
        # contracted edge (their whole neighborhood collapsed to one
        # label) are their own component minimum.
        assign = e.select(
            F.col("u").alias("cnode"), F.col("v").alias("component")
        )
        roots = (
            e.select(F.col("v").alias("cnode"))
            .distinct()
            .withColumn("component", F.col("cnode"))
        )
        comp_c = assign.union(roots).distinct()
    if not contracted:
        return comp_c.select(
            F.col("cnode").alias("node"), F.col("component")
        )
    return (
        lab.join(comp_c, lab.m == comp_c.cnode, "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("component", F.col("m")).alias("component"),
        )
    )


@register(
    "dedup_cc_chain_clusters",
    oracle="""
WITH flags AS (
  SELECT d.doc_id,
         CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS is_start
  FROM documents d
  LEFT JOIN documents p ON p.doc_id = d.doc_id - 1 AND p.lang = d.lang
),
comp AS (
  SELECT doc_id,
         MAX(CASE WHEN is_start = 1 THEN doc_id END)
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS component
  FROM flags
)
SELECT component, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc
FROM comp
GROUP BY component
ORDER BY component
""",
)
def dedup_cc_chain_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup-cluster extraction, oracle-checkable variant.

    Edges link consecutive doc_ids sharing a language, so ground-truth
    components are id-contiguous same-lang runs — which the DuckDB
    oracle computes analytically (gaps-and-islands) while the Spark
    side runs the *generic* large-star/small-star iteration and must
    land on identical clusters. Isolated docs become singleton
    components via coalesce-to-self."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    nxt = docs.select(
        F.col("doc_id").alias("nxt_id"), F.col("lang").alias("nxt_lang")
    )
    edges = docs.join(
        nxt,
        (F.col("nxt_id") == F.col("doc_id") + F.lit(1))
        & (F.col("nxt_lang") == F.col("lang")),
    ).select(F.col("doc_id").alias("src"), F.col("nxt_id").alias("dst"))
    comp = connected_components(edges)
    labeled = docs.join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    return (
        labeled.groupBy("component")
        .agg(F.count("*").alias("n_docs"), F.max("doc_id").alias("max_doc"))
        .orderBy("component")
    )


from spark_lever_spark.llm.dedup import _MINHASH_SQL_CTES, _TUNED_EST_CTES


@register(
    "dedup_minhash_clusters",
    # the banded-LSH family is md5-affine (see dedup._MINHASH_SQL_CTES)
    # and the transitive closure is a recursive min-label propagation —
    # DuckDB replays the full pipeline; the CC step is additionally
    # union-find cross-checked in tests/test_graph.py
    oracle=f"""
WITH RECURSIVE {_MINHASH_SQL_CTES},
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS cluster_size, MIN(node) AS canonical_doc
FROM comp GROUP BY component ORDER BY component
""",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: MinHash+LSH candidate pairs ->
    connected components -> duplicate clusters with an elected
    canonical doc (min doc_id). This is the composition a training-data
    pipeline actually runs; keep-list = canonical docs plus isolated
    docs."""
    from spark_lever_spark.llm.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("node").alias("canonical_doc"),
        )
        .orderBy("component")
    )


@register(
    "triangle_count_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
verts AS (
  SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_vertices
  FROM (SELECT pa AS v FROM e UNION SELECT pb FROM e)
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pb
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT verts.n_vertices, (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       tri.n_triangles
FROM verts CROSS JOIN tri
""",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts bought
    together in >= 2 orders) — the graph-analytics step beyond the
    connected components above (clustering coefficient, community
    density). Edges are canonically oriented (pa < pb), so each
    triangle is produced exactly once by the two equi-joins
    E(a,b) |x| E(b,c) |x| E(a,c): this is the standard distributed
    triangle enumeration whose cost is sum of deg^2 over vertices (the
    compact-forward algorithm's bound), NOT |V|^3 — all joins stay hash
    equi-joins on vertex keys. The support threshold keeps the edge set
    sparse at every SF (the a-priori pruning a real co-purchase graph
    applies anyway)."""
    e = copurchase_edges(spark, sf_dir, pinned=True)
    verts = (
        e.select(F.col("pa").alias("v"))
        .unionByName(e.select(F.col("pb").alias("v")))
        .distinct()
        .agg(F.count("*").alias("n_vertices"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        verts.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_vertices", "n_edges", "n_triangles")
    )


_LPA_ROUNDS = 5


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled sync-LPA oracle: DuckDB can't express the per-round
    mode-with-tie-break inside a recursive CTE (aggregates are barred
    from the recursive term), so the fixed round count is unrolled
    mechanically — same structure the Spark loop builds."""
    ctes = [
        """base AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (
  SELECT pa AS v, pb AS u FROM und UNION ALL SELECT pb, pa FROM und
),
l0 AS (SELECT DISTINCT v, v AS lbl FROM edges)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""v{k} AS (
  SELECT e.v, l.lbl, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l{k - 1} l ON l.v = e.u
  GROUP BY e.v, l.lbl
),
l{k} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
    FROM v{k}
  ) WHERE rn = 1
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size
FROM l{rounds}
GROUP BY lbl ORDER BY size DESC, community
"""
    )


@register(
    "lpa_communities_copurchase",
    oracle=_lpa_oracle(),
)
def lpa_communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation communities (Raghavan et al. '07, synchronized
    variant) over the co-purchase graph — the iterative graph algorithm
    family alongside connected components and triangle counting. Each
    round every vertex adopts its neighbors' MODE label (ties broken to
    the smallest label — the determinism async LPA lacks); 5 fixed
    rounds. Per round: one edge-label equi-join + one (v, lbl) count
    + one per-v argmax — all hash shuffles on vertex keys, O(|E|) per
    round, the same budget-bounded iteration doctrine as
    llm/graph.py's CC. The oracle unrolls the identical 5 rounds.
    Below _LOCAL_GRAPH_MAX_EDGES the recursion runs in the single-task
    vectorized kernel (forced-path-pinned to the loop)."""
    und = copurchase_edges(spark, sf_dir, pinned=True)
    if und.count() <= _LOCAL_GRAPH_MAX_EDGES:
        out = (
            _lpa_local(und, _LPA_ROUNDS)
            .orderBy(F.desc("size"), "community")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(und)
        return out
    edges = und.select(
        F.col("pa").alias("v"), F.col("pb").alias("u")
    ).unionByName(und.select(F.col("pb").alias("v"), F.col("pa").alias("u")))
    edges = edges.persist()
    # Materialize the edge cache once before the loop — the
    # pagerank_copurchase treatment (optimization r18, guide §2.4/§5):
    # per-round broadcast subqueries compile their own plans, so a lazy
    # cache lets each one replay the co-purchase self-join from parquet.
    edges.count()
    labels = edges.select("v").distinct().withColumn("lbl", F.col("v"))
    prev = None
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(
                labels.select(F.col("v").alias("u"), "lbl"), "u"
            )
            .groupBy("v", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # mode with smallest-label tie-break: max over (c, -lbl)
        labels = (
            votes.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("v", (-F.col("m.nl")).alias("lbl"))
        )
        # pin each round's node-grain label vector, free its
        # predecessor (CC lineage doctrine)
        labels = labels.localCheckpoint(eager=True)
        if prev is not None:
            release_local_checkpoint(prev)
        prev = labels
    out = (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), "community")
    )
    # Materialize the community-grain result (small) so the edge cache
    # can be released NOW rather than at executor GC time — in a long
    # one-session sweep over the whole registry the per-query edge
    # blocks would otherwise accumulate.
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    release_local_checkpoint(und)  # ADVICE r18: at-scale branch leaked it
    if prev is not None:
        release_local_checkpoint(prev)
    return out


_KCORE_ROUNDS = 5
_KCORE_K = 2


def _kcore_oracle(rounds: int = _KCORE_ROUNDS, k: int = _KCORE_K) -> str:
    """Unrolled k-core peel oracle (aggregates are barred from
    recursive CTE terms — same mechanical unroll as the LPA oracle)."""
    ctes = [
        """base AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT pa AS v FROM e{i - 1} UNION ALL SELECT pb FROM e{i - 1}
  ) GROUP BY v
),
keep{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE deg >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.pa, e.pb FROM e{i - 1} e
  JOIN keep{i} ka ON ka.v = e.pa
  JOIN keep{i} kb ON kb.v = e.pb
)""")
    stats = "\nUNION ALL\n".join(
        f"""SELECT {i} AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT v FROM (SELECT pa AS v FROM e{i}
                                  UNION ALL SELECT pb FROM e{i})))
         AS n_vertices,
       (SELECT CAST(count(*) AS BIGINT) FROM e{i}) AS n_edges"""
        for i in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + stats + "\nORDER BY round"


def _kcore_local(e: DataFrame, rounds: int, k: int) -> DataFrame:
    """Single-task k-core peel over a bounded ``(pa, pb)`` edge frame:
    the ``(round, n_vertices, n_edges)`` peeling trajectory — the
    distributed loop's output grain. Exactness: integer degree counts
    and endpoint-set restrictions only, nothing that can drift. The
    kernel must emit the full trajectory even when the edge frame is
    empty (all-zero rounds), matching the loop's per-round counts."""
    inp = e.select(
        F.col("pa").cast("long").alias("pa"), F.col("pb").cast("long").alias("pb")
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        pas, pbs = [], []
        for b in batches:
            pas.append(b["pa"].to_numpy(np.int64))
            pbs.append(b["pb"].to_numpy(np.int64))
        pa = np.concatenate(pas) if pas else np.empty(0, dtype=np.int64)
        pb = np.concatenate(pbs) if pbs else np.empty(0, dtype=np.int64)
        out = []
        for i in range(1, rounds + 1):
            if pa.size:
                nodes, inv = np.unique(
                    np.concatenate([pa, pb]), return_inverse=True
                )
                deg = np.bincount(inv, minlength=nodes.size)
                keep = deg >= k
                mask = keep[inv[: pa.size]] & keep[inv[pa.size :]]
                pa, pb = pa[mask], pb[mask]
            out.append(
                (
                    i,
                    int(np.unique(np.concatenate([pa, pb])).size),
                    int(pa.size),
                )
            )
        yield pd.DataFrame(
            out, columns=["round", "n_vertices", "n_edges"]
        ).astype(
            {"round": "int32", "n_vertices": "int64", "n_edges": "int64"}
        )

    return inp.coalesce(1).mapInPandas(
        part, "round int, n_vertices long, n_edges long"
    )


@register(
    "kcore_peel_copurchase",
    oracle=_kcore_oracle(),
)
def kcore_peel_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core decomposition of the co-purchase graph by iterative
    peeling (Matula/Beck's degeneracy algorithm, synchronized): each
    round drops every vertex with degree < 2 and the edges touching
    it; the survivors after convergence form the 2-core — the dense
    backbone community detection and cycle analysis run on (tree-like
    fringes peel away). Fourth member of the graph family (CC,
    triangles, LPA, k-core). Five fixed rounds, each one degree
    aggregation + two semi-join restrictions on vertex keys — O(|E|)
    hash work per round, lineage truncated per round. Output is the
    peeling TRAJECTORY (vertices/edges after each round), which pins
    both the algorithm and its convergence behavior."""
    e = copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    if e.count() <= _LOCAL_GRAPH_MAX_EDGES:
        # bounded-rounds peel in the single-task vectorized kernel
        # (_LOCAL_GRAPH_MAX_EDGES doctrine — the LPA shape applied to
        # the last loop-shaped query; forced-path-pinned to the loop
        # in tests/test_graph.py). The distributed loop below is the
        # at-scale path.
        out = (
            _kcore_local(e, _KCORE_ROUNDS, _KCORE_K)
            .orderBy("round")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(e)
        return out
    # localCheckpoint (not bare persist) is load-bearing here: each
    # round references its parent ~5x (degree union + two semi-joins),
    # so without lineage truncation the plan tree grows 5^rounds and
    # AQE's plan-string rendering alone OOMs the driver. The checkpoint
    # blocks are released EXPLICITLY as soon as each round's successor
    # is materialized (and all of them before return — the trajectory
    # is already collected), so nothing lingers until executor GC in a
    # long one-session sweep.
    handles = [e]
    spark_rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("pa").alias("v"))
            .unionByName(e.select(F.col("pb").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("v")
        e = (
            e.join(keep.select(F.col("v").alias("pa")), "pa", "left_semi")
            .join(keep.select(F.col("v").alias("pb")), "pb", "left_semi")
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )
        handles.append(e)
        verts = (
            e.select(F.col("pa").alias("v"))
            .unionByName(e.select(F.col("pb").alias("v")))
            .distinct()
            .count()
        )
        spark_rounds.append((i, verts, e.count()))
        release_local_checkpoint(handles.pop(0))
    for h in handles:
        release_local_checkpoint(h)
    return spark.createDataFrame(
        spark_rounds, "round int, n_vertices long, n_edges long"
    ).orderBy("round")


_PR_ROUNDS = 5
_PR_R0 = 1_000_000_000  # initial rank per node, integer units
_PR_TELEPORT = _PR_R0 * 3 // 20  # (1-d)·R0 with d = 0.85 = 17/20

# At or below this edge count every bounded-rounds graph ITERATION
# (PageRank, PPR, LPA, HITS, BFS, sampled-BFS closeness) finishes in a
# single-task vectorized kernel instead of the distributed per-round
# join loop — the _LOCAL_CC_MAX_EDGES doctrine applied to the whole
# iterative family (optimization r18, guide §1.2 "the distributed
# algorithm" + §4.2 native batch code). Measured at sf0.1: each loop
# round costs 2-4 shuffle stages plus 1-3 job dispatches (the per-round
# localCheckpoint the lineage doctrine requires is itself a job), so a
# graph-sized input pays ~15 jobs of pure scheduling latency for well
# under one core-second of arithmetic. Every recursion in the family
# is INTEGER-exact by construction (ranks in integer units with div,
# mode-with-min-tie labels, hop counts), so a numpy int64 kernel
# reproduces the distributed fixpoint bit-for-bit — each query's
# forced-path test pins the two paths to identical rows. Above the
# threshold the distributed loop runs unchanged: at cluster scale the
# edge set exceeds any single task and the O(|E|)-per-round join loop
# is the right shape. 2M edges is ~32 MB of Arrow payload — bounded by
# construction, same class as a broadcast side.
_LOCAL_GRAPH_MAX_EDGES = 2_000_000


def _pagerank_local(
    und: DataFrame, seed_marks: DataFrame | None = None
) -> DataFrame:
    """Single-task integer-exact PageRank over a bounded ``(pa, pb)``
    undirected edge frame: ``(part, rank_units)`` for every vertex
    with >= 1 edge — exactly the distributed loop's output grain.

    When ``seed_marks`` (a ``(sv)`` frame of teleport targets) is
    given, runs the PERSONALIZED variant: seeds start at R0 and keep
    the teleport constant, non-seeds start and teleport at 0, vertices
    never reached are dropped (r > 0) — the _ppr_oracle recursion.

    Exactness: the round update is r'(v) = tele(v) + Σ_{u∈N(v)}
    (r(u)·17) div (20·deg(u)) in int64 — identical operations in
    identical order-free form (integer sums are associative), and all
    terms are non-negative so numpy's ``//`` (floor) equals Spark/
    DuckDB's truncating ``div``. Overflow headroom: total mass stays
    <= n·R0 <= 2e6·1e9 = 2e15 under the kernel gate, so r·17 < 2^63."""
    personalized = seed_marks is not None
    inp = und.select(
        F.col("pa").cast("long").alias("pa"), F.col("pb").cast("long").alias("pb")
    )
    if personalized:
        # seed markers ride the same frame as (sv, -1) rows — part keys
        # are positive, so the sign is an unambiguous tag and the
        # kernel needs no second input relation
        inp = inp.unionByName(
            seed_marks.select(
                F.col("sv").cast("long").alias("pa"),
                F.lit(-1).cast("long").alias("pb"),
            )
        )
    r0, tele, rounds = _PR_R0, _PR_TELEPORT, _PR_ROUNDS

    def part(batches):
        import numpy as np
        import pandas as pd

        pas, pbs = [], []
        for b in batches:
            pas.append(b["pa"].to_numpy(np.int64))
            pbs.append(b["pb"].to_numpy(np.int64))
        if not pas:
            return
        pa = np.concatenate(pas)
        pb = np.concatenate(pbs)
        marks = pa[pb < 0]
        em = pb >= 0
        pa, pb = pa[em], pb[em]
        if pa.size == 0:
            return
        nodes, inv = np.unique(np.concatenate([pa, pb]), return_inverse=True)
        ea, eb = inv[: pa.size], inv[pa.size :]
        # symmetric directed view: each undirected edge sends both ways
        send = np.concatenate([ea, eb])
        recv = np.concatenate([eb, ea])
        deg = np.bincount(send, minlength=nodes.size).astype(np.int64)
        if personalized:
            seed = np.zeros(nodes.size, dtype=bool)
            seed[np.searchsorted(nodes, np.intersect1d(marks, nodes))] = True
            r = np.where(seed, np.int64(r0), np.int64(0))
            t = np.where(seed, np.int64(tele), np.int64(0))
        else:
            r = np.full(nodes.size, r0, dtype=np.int64)
            t = np.full(nodes.size, tele, dtype=np.int64)
        for _ in range(rounds):
            c = (r[send] * 17) // (20 * deg[send])
            s = np.zeros(nodes.size, dtype=np.int64)
            np.add.at(s, recv, c)
            r = t + s
        if personalized:
            keep = r > 0
            nodes, r = nodes[keep], r[keep]
        yield pd.DataFrame({"part": nodes, "rank_units": r})

    # coalesce, not repartition: the input is graph-sized and pinned,
    # so collapsing to one partition constrains nothing upstream and
    # skips the keyless-repartition pre-sort (guide §2.5)
    return inp.coalesce(1).mapInPandas(part, "part long, rank_units long")


def _lpa_local(und: DataFrame, rounds: int) -> DataFrame:
    """Single-task synchronized LPA over a bounded ``(pa, pb)`` edge
    frame: ``(community, size)`` after ``rounds`` mode-label rounds —
    the distributed loop's output grain. Exactness: each round every
    vertex adopts the neighbor label with the highest count, ties to
    the SMALLEST label — reproduced by sorting candidate (v, c, lbl)
    triples on (v, -c, lbl) and taking the first per v; labels are
    node ids (int64) throughout, no float anywhere."""
    inp = und.select(
        F.col("pa").cast("long").alias("pa"), F.col("pb").cast("long").alias("pb")
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        pas, pbs = [], []
        for b in batches:
            pas.append(b["pa"].to_numpy(np.int64))
            pbs.append(b["pb"].to_numpy(np.int64))
        if not pas:
            return
        pa = np.concatenate(pas)
        pb = np.concatenate(pbs)
        if pa.size == 0:
            return
        nodes, inv = np.unique(np.concatenate([pa, pb]), return_inverse=True)
        ea, eb = inv[: pa.size], inv[pa.size :]
        send = np.concatenate([ea, eb])
        recv = np.concatenate([eb, ea])
        n = nodes.size
        # labels as node INDICES: nodes is ascending, so min label
        # value == min label index and the tie-break is order-safe
        lbl = np.arange(n, dtype=np.int64)
        for _ in range(rounds):
            votes = recv * np.int64(n) + lbl[send]
            keys, cnt = np.unique(votes, return_counts=True)
            vv, ll = keys // n, keys % n
            order = np.lexsort((ll, -cnt, vv))
            vv, ll = vv[order], ll[order]
            first = np.unique(vv, return_index=True)[1]
            nxt = lbl.copy()
            nxt[vv[first]] = ll[first]
            lbl = nxt
        comm, size = np.unique(lbl, return_counts=True)
        yield pd.DataFrame(
            {"community": nodes[comm], "size": size.astype(np.int64)}
        )

    return inp.coalesce(1).mapInPandas(part, "community long, size long")


def _hits_local(e: DataFrame, rounds: int) -> DataFrame:
    """Single-task integer-exact HITS over a bounded bipartite
    ``(c, p)`` edge frame: the long-format ``(kind, node,
    score_micro)`` output. Exactness: v ← ⌊v·10⁶ / max(v)⌋ on
    non-negative int64 — the raw sums are bounded by 10⁶·deg <=
    10⁶·|E| <= 2e12 under the kernel gate, so the ·10⁶ product stays
    < 2^63 and numpy floor-div equals the decimal(38,0)/HUGEINT div
    both engines use."""
    inp = e.select(
        F.col("c").cast("long").alias("c"), F.col("p").cast("long").alias("p")
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        cs, ps = [], []
        for b in batches:
            cs.append(b["c"].to_numpy(np.int64))
            ps.append(b["p"].to_numpy(np.int64))
        if not cs:
            return
        c = np.concatenate(cs)
        p = np.concatenate(ps)
        if c.size == 0:
            return
        cn, ci = np.unique(c, return_inverse=True)
        pn, pi = np.unique(p, return_inverse=True)
        a = np.full(pn.size, 1_000_000, dtype=np.int64)
        h = np.zeros(cn.size, dtype=np.int64)
        for _ in range(rounds):
            hr = np.zeros(cn.size, dtype=np.int64)
            np.add.at(hr, ci, a[pi])
            h = hr * 1_000_000 // hr.max()
            ar = np.zeros(pn.size, dtype=np.int64)
            np.add.at(ar, pi, h[ci])
            a = ar * 1_000_000 // ar.max()
        yield pd.DataFrame(
            {
                "kind": ["authority"] * pn.size + ["hub"] * cn.size,
                "node": np.concatenate([pn, cn]),
                "score_micro": np.concatenate([a, h]),
            }
        )

    return inp.coalesce(1).mapInPandas(
        part, "kind string, node long, score_micro long"
    )


def _bfs_hops_local(und: DataFrame, max_hop: int) -> DataFrame:
    """Single-task BFS hop census over a bounded ``(pa, pb)`` edge
    frame, seeded at the minimum vertex: ``(hop, n_vertices)`` rows
    for hops 0..max_hop plus the hop = -1 unreachable count —
    integer frontier relaxation, trivially exact."""
    inp = und.select(
        F.col("pa").cast("long").alias("pa"), F.col("pb").cast("long").alias("pb")
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        pas, pbs = [], []
        for b in batches:
            pas.append(b["pa"].to_numpy(np.int64))
            pbs.append(b["pb"].to_numpy(np.int64))
        if not pas:
            return
        pa = np.concatenate(pas)
        pb = np.concatenate(pbs)
        if pa.size == 0:
            return
        nodes, inv = np.unique(np.concatenate([pa, pb]), return_inverse=True)
        ea, eb = inv[: pa.size], inv[pa.size :]
        send = np.concatenate([ea, eb])
        recv = np.concatenate([eb, ea])
        dist = np.full(nodes.size, -1, dtype=np.int64)
        dist[0] = 0  # nodes is ascending: index 0 IS the min vertex
        for hop in range(1, max_hop + 1):
            reach = recv[dist[send] == hop - 1]
            fresh = reach[dist[reach] < 0]
            if fresh.size == 0:
                break
            dist[fresh] = hop
        hops, cnt = np.unique(dist[dist >= 0], return_counts=True)
        out_h = list(hops) + [-1]
        out_n = list(cnt.astype(np.int64)) + [
            int(np.count_nonzero(dist < 0))
        ]
        yield pd.DataFrame(
            {
                "hop": np.asarray(out_h, dtype=np.int32),
                "n_vertices": np.asarray(out_n, dtype=np.int64),
            }
        )

    return inp.coalesce(1).mapInPandas(part, "hop int, n_vertices long")


def _harmonic_local(und: DataFrame, n_seeds: int, max_hop: int) -> DataFrame:
    """Single-task sampled-seed harmonic closeness over a bounded
    ``(pa, pb)`` edge frame: ``(seed, n_reached, harmonic_micro)`` for
    the ``n_seeds`` md5-order sample — hashlib.md5 of str(v) sorts
    identically to the Spark/DuckDB md5-hex ordering (lowercase hex,
    lexicographic), per-hop credit is the exact integer 10⁶ // hop."""
    inp = und.select(
        F.col("pa").cast("long").alias("pa"), F.col("pb").cast("long").alias("pb")
    )

    def part(batches):
        import hashlib
        import heapq

        import numpy as np
        import pandas as pd

        pas, pbs = [], []
        for b in batches:
            pas.append(b["pa"].to_numpy(np.int64))
            pbs.append(b["pb"].to_numpy(np.int64))
        if not pas:
            return
        pa = np.concatenate(pas)
        pb = np.concatenate(pbs)
        if pa.size == 0:
            return
        nodes, inv = np.unique(np.concatenate([pa, pb]), return_inverse=True)
        ea, eb = inv[: pa.size], inv[pa.size :]
        send = np.concatenate([ea, eb])
        recv = np.concatenate([eb, ea])
        # nsmallest keeps a k-long heap instead of fully sorting the
        # vertex set (ADVICE r18): the md5 key is still computed once
        # per vertex, but the selection is O(n log k), not O(n log n)
        seeds = heapq.nsmallest(
            n_seeds,
            range(nodes.size),
            key=lambda i: (
                hashlib.md5(str(int(nodes[i])).encode()).hexdigest(),
                int(nodes[i]),
            ),
        )
        out = []
        for si in sorted(seeds):
            dist = np.full(nodes.size, -1, dtype=np.int64)
            dist[si] = 0
            for hop in range(1, max_hop + 1):
                reach = recv[dist[send] == hop - 1]
                fresh = reach[dist[reach] < 0]
                if fresh.size == 0:
                    break
                dist[fresh] = hop
            pos = dist[dist > 0]
            out.append(
                (
                    int(nodes[si]),
                    int(pos.size),
                    int((1_000_000 // pos).sum()) if pos.size else 0,
                )
            )
        yield pd.DataFrame(
            out, columns=["seed", "n_reached", "harmonic_micro"]
        ).astype({"seed": "int64", "n_reached": "int64", "harmonic_micro": "int64"})

    return inp.coalesce(1).mapInPandas(
        part, "seed long, n_reached long, harmonic_micro long"
    )


def _pagerank_oracle(rounds: int = _PR_ROUNDS) -> str:
    """Unrolled integer-exact PageRank oracle (aggregates are barred
    from recursive CTE terms — the LPA/k-core mechanical unroll)."""
    ctes = [
        f"""base AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS MATERIALIZED (
  SELECT pa AS v, pb AS u FROM und
  UNION ALL
  SELECT pb AS v, pa AS u FROM und
),
deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY v
),
r0 AS MATERIALIZED (
  SELECT v, CAST({_PR_R0} AS BIGINT) AS r FROM deg
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT dg.v,
         CAST({_PR_TELEPORT} + COALESCE(SUM((r.r * 17) // (20 * sd.d)), 0)
              AS BIGINT) AS r
  FROM deg dg
  LEFT JOIN e ON e.v = dg.v
  LEFT JOIN r{i - 1} r ON r.v = e.u
  LEFT JOIN deg sd ON sd.v = e.u
  GROUP BY dg.v
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS part, r AS rank_units FROM r{rounds}"
        + "\nORDER BY rank_units DESC, part"
    )


@register(
    "pagerank_copurchase",
    oracle=_pagerank_oracle(),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph — the fifth graph
    family member (CC, triangles, LPA, k-core, PageRank), in
    INTEGER-EXACT arithmetic so both engines agree bit-for-bit: ranks
    live in units of 1e-9 of an initial per-node rank, damping
    d = 0.85 = 17/20 is applied as `(r·17) div (20·deg)` (true integer
    division — no IEEE double in the recursion, where 5 rounds of
    nondeterministically-ordered float sums would drift), and the
    teleport term is the exact constant R0·3 div 20. A node with no
    in-links settles at 0.15·R0 (per-node-units formulation; divide by
    n·R0 for the probability view).

    Scale shape: degree table computed once; each round is one
    equi-join of the static degree-annotated edge list against the
    rank vector plus one dst-key aggregation — O(|E|) hash work per
    round, the LPA doctrine. Fixed round budget; headroom: total mass
    ≈ n·R0 must stay < 2^63/17 ⇒ fine to ~5e8 nodes at R0 = 1e9.

    Below _LOCAL_GRAPH_MAX_EDGES the whole recursion runs in the
    single-task vectorized kernel (same integer arithmetic, pinned to
    the loop by a forced-path test); the distributed loop is the
    at-scale path."""
    und = copurchase_edges(spark, sf_dir, pinned=True)
    if und.count() <= _LOCAL_GRAPH_MAX_EDGES:
        out = (
            _pagerank_local(und)
            .orderBy(F.desc("rank_units"), "part")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(und)
        return out
    edges = und.select(
        F.col("pa").alias("v"), F.col("pb").alias("u")
    ).unionByName(und.select(F.col("pb").alias("v"), F.col("pa").alias("u")))
    edges = edges.persist()
    deg = edges.groupBy("v").agg(F.count("*").cast("long").alias("d")).persist()
    # static degree-annotated edge list: src degree rides the edge so
    # each round joins ONLY the rank vector
    e_src = (
        edges.join(deg.select(F.col("v").alias("u"), "d"), "u")
        .select("v", "u", "d")
        .persist()
    )
    # Materialize the static tables ONCE before the loop (optimization
    # r18, guide §2.4/§5 recompute elimination): the rounds' joins pick
    # runtime broadcasts, and each broadcast subquery compiles its own
    # plan — exchanges are NOT reused across those plan boundaries, so
    # with a lazy cache every round's broadcast job replayed the whole
    # co-purchase self-join from parquet (measured at sf0.1: ~10
    # overlapping replays of the 64-task construction stages, ~15
    # executor-s each, dominating the query).
    e_src.count()
    ranks = deg.select("v", F.lit(_PR_R0).cast("long").alias("r"))
    prev = None
    for _ in range(_PR_ROUNDS):
        contrib = (
            e_src.join(ranks.select(F.col("v").alias("u"), "r"), "u")
            .select("v", F.expr("(r * 17) div (20 * d)").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            deg.join(contrib, "v", "left")
            .select(
                "v",
                (
                    F.lit(_PR_TELEPORT).cast("long")
                    + F.coalesce(F.col("s"), F.lit(0))
                ).alias("r"),
            )
        )
        # Pin each round's node-grain rank vector and free its
        # predecessor: round N+1's broadcast subquery then reads a
        # materialized LogicalRDD instead of replaying rounds 1..N
        # (the CC-loop lineage doctrine applied to the rank recursion).
        ranks = ranks.localCheckpoint(eager=True)
        if prev is not None:
            release_local_checkpoint(prev)
        prev = ranks
    out = ranks.select(
        F.col("v").alias("part"), F.col("r").alias("rank_units")
    ).orderBy(F.desc("rank_units"), "part")
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    deg.unpersist()
    e_src.unpersist()
    release_local_checkpoint(und)  # ADVICE r18: at-scale branch leaked it
    if prev is not None:
        release_local_checkpoint(prev)
    return out


@register(
    "dedup_cluster_quality_election",
    # md5-affine LSH under the TUNED banding (full tuner-decision
    # replay, dedup._TUNED_EST_CTES) + recursive-CC replay as
    # dedup_minhash_clusters, extended with the production election
    # rule: keep the LONGEST member (token count, tie -> min doc_id)
    oracle=f"""
WITH RECURSIVE {_TUNED_EST_CTES},
pairs AS (SELECT id_a, id_b FROM tune_est WHERE est_jaccard >= 0.5),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              w -> w <> '')) AS BIGINT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT c.component, c.node, t.n_tok,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY t.n_tok DESC, c.node) AS rn
  FROM comp c JOIN toks t ON t.doc_id = c.node
)
SELECT component,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(max(CASE WHEN rn = 1 THEN node END) AS BIGINT)
         AS canonical_doc,
       CAST(max(CASE WHEN rn = 1 THEN n_tok END) AS BIGINT)
         AS canonical_tokens
FROM ranked GROUP BY component ORDER BY component
""",
)
def dedup_cluster_quality_election(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware canonical election over duplicate clusters: where
    dedup_minhash_clusters keeps the MIN-ID member, production
    pipelines keep the BEST member — here the longest (token count,
    exact integer — no float quality score to tie-break across
    engines), with min doc_id breaking exact-length ties. Pipeline:
    LSH candidate pairs under the TUNED banding (est >= 0.5) →
    large-star/small-star connected components → one equi-join to the
    token counts → per-cluster top-1 window (cluster-keyed: parallel
    across clusters). The reference rule every dedup paper glosses as
    'keep one representative', made explicit and verifiable.

    Candidacy runs under the ``tune_lsh_banding`` choice instead of the
    fixed 8x4 — on this high-background-similarity corpus the fixed
    banding generated ~3M candidate pairs at sf0.1 (27.7 s of the
    query's time), nearly all background J≈0.5-0.8 noise the est>=0.5
    filter then discarded pair-by-pair. The tuner keeps recall >= 0.9 at
    the J=0.95 dup threshold while minimizing expected candidates;
    candidacy for mid-band pairs is LSH-governed by design (the whole
    point of banding selectivity). The oracle replays the ENTIRE tuning
    decision + banding + CC + election in SQL, so the hash certifies the
    tuned pipeline end-to-end.

    Candidate generation and election are separate helpers
    (`_election_candidate_pairs` / `_election_from_components`) so the
    LSH signature persist taken during candidate generation can be
    released between the phases, once `connected_components` has
    materialized its edge input."""
    rel: list = []
    pairs = _election_candidate_pairs(spark, sf_dir, releases=rel)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    # connected_components eagerly materializes its edge input, so the
    # LSH signature persist is released here (r19: no persisted
    # relation survives the query's return).
    for cached in rel:
        cached.unpersist()
    return _election_from_components(spark, sf_dir, comp)


def _election_candidate_pairs(
    spark: SparkSession, sf_dir: str, releases: list | None = None
) -> DataFrame:
    """Candidate-gen phase: tuner decision + banded LSH self-join +
    est >= 0.5 filter (the dominant cost — ~3.7M surviving pairs at
    sf0.1, a density property of the synthetic corpus)."""
    from spark_lever_spark.llm.dedup import (
        lsh_candidate_pairs,
        tune_lsh_banding,
    )

    docs = load_table(spark, sf_dir, "documents")
    b, _r = tune_lsh_banding(
        docs, k=32, dup_threshold=0.95, min_recall=0.9, max_docs=150
    )
    return lsh_candidate_pairs(docs, k=32, bands=b, releases=releases).filter(
        F.col("est_jaccard") >= 0.5
    )


def _election_from_components(
    spark: SparkSession, sf_dir: str, comp: DataFrame
) -> DataFrame:
    """Election phase: one equi-join to the token counts + per-cluster
    top-1 window (cluster-keyed, parallel across clusters)."""
    from spark_lever_spark.llm.textstats import token_count

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    labeled = comp.join(toks, comp["node"] == toks["doc_id"]).select(
        "component", "node", "n_tok"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tok"), "node"
    )
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("node"))).alias(
                "canonical_doc"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n_tok"))).alias(
                "canonical_tokens"
            ),
        )
        .orderBy("component")
    )


@register(
    "bfs_hops_copurchase",
    oracle="""
WITH RECURSIVE items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
verts AS (SELECT DISTINCT pa AS v FROM sym),
walk(v, hop) AS (
  SELECT (SELECT min(v) FROM verts), 0
  UNION
  SELECT s.pb, w.hop + 1
  FROM walk w JOIN sym s ON s.pa = w.v
  WHERE w.hop < 4
),
dist AS (SELECT v, min(hop) AS hop FROM walk GROUP BY v)
SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_vertices
FROM dist GROUP BY hop
UNION ALL
SELECT -1, (SELECT CAST(count(*) AS BIGINT) FROM verts)
           - (SELECT CAST(count(*) AS BIGINT) FROM dist)
ORDER BY hop
""",
)
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances over the co-purchase graph
    (support >= 2 edges, same construction as
    `triangle_count_copurchase`), seeded at the minimum vertex id:
    the reachability primitive under "how many hops from product X is
    the rest of the catalog" — the per-hop frontier census is the
    graph's expansion profile (hop -1 counts vertices unreachable
    within the 4-hop budget). Distributed shape: synchronous
    frontier-relaxation — each round is ONE frontier-to-adjacency
    equi-join plus an anti-join against the visited set, the same
    bounded-rounds doctrine as `connected_components`' large-star
    rounds (Pregel BFS without a vertex-program framework); the
    number of rounds is the hop budget, a query constant, never a
    data size. The DuckDB oracle replays it as a recursive CTE whose
    UNION-dedup bounds states at |V| x hops, then takes min(hop) per
    vertex. Below _LOCAL_GRAPH_MAX_EDGES the frontier relaxation runs
    in the single-task vectorized kernel (forced-path-pinned)."""
    e = copurchase_edges(spark, sf_dir, pinned=True)
    if e.count() <= _LOCAL_GRAPH_MAX_EDGES:
        out = (
            _bfs_hops_local(e, 4)
            .orderBy("hop")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(e)
        return out
    # localCheckpoint per round: BFS is iterative, and without eager
    # lineage truncation round N re-executes rounds 1..N-1 (measured
    # 35s -> ~8s at sf0.001); same doctrine as connected_components.
    sym = e.unionByName(
        e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    ).localCheckpoint()
    release_local_checkpoint(e)  # ADVICE r18: sym is pinned; e is consumed
    verts = sym.select(F.col("pa").alias("v")).distinct().localCheckpoint()
    seed = (
        verts.agg(F.min("v").alias("v"))
        .select("v", F.lit(0).alias("hop"))
        .localCheckpoint()
    )
    layers = [seed]
    visited_v = seed.select("v")
    frontier = seed.select("v")
    for h in range(1, 5):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["pa"])
            .select(F.col("pb").alias("v"))
            .distinct()
            .join(visited_v, "v", "left_anti")
            .select("v", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        layers.append(nxt)
        visited_v = visited_v.unionByName(nxt.select("v"))
        frontier = nxt.select("v")
    visited = layers[0]
    for lay in layers[1:]:
        visited = visited.unionByName(lay)
    reached = visited.groupBy("hop").agg(F.count("*").alias("n_vertices"))
    n_verts = verts.agg(F.count("*").alias("nv"))
    n_reach = visited.agg(F.count("*").alias("nr"))
    unreachable = (
        n_verts.crossJoin(n_reach)
        .select(
            F.lit(-1).alias("hop"),
            (F.col("nv") - F.col("nr")).alias("n_vertices"),
        )
    )
    return (
        reached.select(F.col("hop").cast("int"), "n_vertices")
        .unionByName(unreachable.select(F.col("hop").cast("int"), "n_vertices"))
        .orderBy("hop")
    )


@register(
    "dedup_decision_ledger",
    # exact-fp stage + survivor-restricted LSH stage; band digests are
    # pure per-doc functions, so post-filtering pairs to exact
    # survivors equals re-running LSH on the survivor set
    oracle=f"""
WITH RECURSIVE {_MINHASH_SQL_CTES},
exact AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS ex_keep
  FROM documents
),
surv AS (SELECT doc_id FROM exact WHERE doc_id = ex_keep),
pairs AS (
  SELECT id_a, id_b FROM est
  WHERE est_jaccard >= 0.5
    AND id_a IN (SELECT doc_id FROM surv)
    AND id_b IN (SELECT doc_id FROM surv)
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
SELECT e.doc_id,
       CASE WHEN e.doc_id <> e.ex_keep THEN 'drop_exact'
            WHEN c.component IS NOT NULL AND c.component <> e.doc_id
                 THEN 'drop_near'
            ELSE 'keep' END AS decision,
       CAST(CASE WHEN e.doc_id <> e.ex_keep THEN e.ex_keep
            WHEN c.component IS NOT NULL THEN c.component
            ELSE e.doc_id END AS BIGINT) AS keeper_id
FROM exact e LEFT JOIN comp c ON c.node = e.doc_id
ORDER BY e.doc_id
""",
)
def dedup_decision_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document dedup DECISION LEDGER a production corpus
    pipeline must emit for auditability: every doc_id with its final
    keep/drop verdict, the reason tier, and WHICH keeper displaced it
    — the provenance record that lets a later run answer "why is this
    document missing from the training set". Two-tier precedence:
    exact md5 duplicates drop first (cheap, digest-only shuffle);
    MinHash+LSH near-dup clustering (est Jaccard >= 0.5 -> connected
    components, min-id canonical) then runs on the EXACT SURVIVORS
    only — band digests are pure per-doc functions, so restricting
    the pair set to survivors is provably identical to re-running LSH
    on the survivor corpus while letting the two stages share one
    scan. Composition cost is the SUM of the stage costs (the
    composed-pipeline doctrine): one fp aggregation, the banded LSH
    equi-joins, O(log n) CC rounds, and a final broadcast-size
    left join of verdicts back to the ledger spine."""
    from spark_lever_spark.llm.dedup import content_fingerprint, dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", content_fingerprint(F.col("text")).alias("fp")
    )
    ex = docs.join(
        docs.groupBy("fp").agg(F.min("doc_id").alias("ex_keep")), "fp"
    ).select("doc_id", "ex_keep")
    surv = ex.where(F.col("doc_id") == F.col("ex_keep")).select("doc_id")
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .join(surv.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(surv.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    ledger = ex.join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    )
    is_exact_drop = F.col("doc_id") != F.col("ex_keep")
    is_near_drop = F.col("component").isNotNull() & (
        F.col("component") != F.col("doc_id")
    )
    return ledger.select(
        "doc_id",
        F.when(is_exact_drop, F.lit("drop_exact"))
        .when(is_near_drop, F.lit("drop_near"))
        .otherwise(F.lit("keep"))
        .alias("decision"),
        F.when(is_exact_drop, F.col("ex_keep"))
        .when(F.col("component").isNotNull(), F.col("component"))
        .otherwise(F.col("doc_id"))
        .cast("long")
        .alias("keeper_id"),
    ).orderBy("doc_id")


@register(
    "graph_degree_histogram",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
  GROUP BY v
),
hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices
  FROM deg GROUP BY degree
),
tot AS (SELECT CAST(SUM(n_vertices) AS BIGINT) AS nv FROM hist)
SELECT h.degree, h.n_vertices,
       CAST(SUM(h.n_vertices)
            OVER (ORDER BY h.degree DESC) * 1000000 // t.nv AS BIGINT)
           AS tail_share_ppm
FROM hist h CROSS JOIN tot t
ORDER BY h.degree
""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with the
    complementary-CDF tail share in exact ppm — the profiling step
    every graph algorithm here should be SIZED from: the tail share
    at each degree says how much of the vertex mass a hub-cutoff
    would exclude (skew diagnosis for the triangle/LPA/PageRank
    joins, whose cost is Σ deg² — the same reading
    skew_key_diagnostics_lineitem gives for relational keys, lifted
    to graphs). Degree counting is one vertex-keyed aggregation over
    the symmetric edge list; the histogram and its reverse-cumulative
    window live on the degree domain (bounded by max degree, not
    vertex count); total count rides a 1-row broadcast."""
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("v"))
        .unionByName(e.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))
    tot = hist.agg(F.sum("n_vertices").alias("nv"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "tail_share_ppm",
            F.expr("sum(n_vertices) OVER (ORDER BY degree DESC"
                   " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                   " * 1000000 div nv"),
        )
        .select("degree", "n_vertices", "tail_share_ppm")
        .orderBy("degree")
    )


@register(
    "degree_assortativity_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY v
),
ends AS (
  -- each undirected edge contributes BOTH orientations, the standard
  -- symmetrization for Newman's assortativity
  SELECT da.d AS x, db.d AS y
  FROM e JOIN deg da ON da.v = e.pa JOIN deg db ON db.v = e.pb
  UNION ALL
  SELECT db.d, da.d
  FROM e JOIN deg da ON da.v = e.pa JOIN deg db ON db.v = e.pb
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ends
)
SELECT n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             * 1000000) / 1000000 AS assortativity
FROM m
""",
)
def degree_assortativity_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over all symmetrized
    edges — positive means hubs connect to hubs (social-network
    shape), negative means hubs connect to leaves (catalog/star
    shape), the single number that says WHICH skew mitigation the
    graph joins need (hub-hub graphs concentrate deg² cost in a few
    partitions; star graphs spread it). Consumes the same degree
    table as graph_degree_histogram; the statistic is exact int64
    moments over the edge-ends domain into one fixed IEEE tree (the
    autocorr/spearman doctrine applied to graph structure)."""
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("v"))
        .unionByName(e.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("pa"), F.col("d").alias("dx"))
    db = deg.select(F.col("v").alias("pb"), F.col("d").alias("dy"))
    oriented = e.join(da, "pa").join(db, "pb").select("dx", "dy")
    ends = oriented.unionByName(
        oriented.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    m = ends.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        )
    )
    return m.select(
        "n", (F.round(r * 1000000) / 1000000).alias("assortativity")
    )


@register(
    "entity_resolution_clusters",
    oracle="""
WITH RECURSIVE names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(min(p_partkey) AS BIGINT) AS nid,
         string_split(p_name, ' ')[-1] AS noun
  FROM part GROUP BY p_name
),
fuzzy AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 3
),
ranked AS (
  SELECT p_name, row_number() OVER (ORDER BY p_name) AS rn FROM names
),
snm AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 3
  WHERE levenshtein(a.p_name, b.p_name) <= 4
),
pairs AS (
  SELECT na.nid AS u, nb.nid AS v
  FROM (SELECT name_a, name_b FROM fuzzy
        UNION SELECT name_a, name_b FROM snm) p
  JOIN names na ON na.p_name = p.name_a
  JOIN names nb ON nb.p_name = p.name_b
),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
SELECT c.component,
       CAST(count(*) AS BIGINT) AS n_names,
       CAST(SUM(n.n_parts) AS BIGINT) AS n_listings,
       min(CASE WHEN n.nid = c.component THEN n.p_name END)
           AS canonical_name
FROM comp c JOIN names n ON n.nid = c.node
GROUP BY c.component ORDER BY c.component
""",
)
def entity_resolution_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END ENTITY RESOLUTION: candidate pairs from BOTH
    blocking families — key-based (noun + length cell,
    fuzzy_join_part_names) and sort-based (sorted-neighborhood w = 3)
    — unioned, closed transitively with the O(log n) connected
    components, and reported as entity clusters with a canonical
    name. This is the composition the two pair generators exist FOR:
    each blocking method misses pairs the other catches (a typo in
    the head noun escapes key blocking but not sort adjacency; a
    first-letter typo escapes sort adjacency but not noun blocking),
    and match/merge must run on the UNION's transitive closure, not
    either pair list. Node identity = each name's min part key (the
    golden-record rule), so CC runs on integers; all stages live on
    the 64-name aggregate domain, and the composed cost is the sum
    of the stage costs."""
    from spark_lever_spark.operators.joins import (
        fuzzy_join_part_names,
        sorted_neighborhood_pairs,
    )

    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.count("*").alias("n_parts"),
        F.min("p_partkey").cast("long").alias("nid"),
    )
    fuzzy = fuzzy_join_part_names(spark, sf_dir).select("name_a", "name_b")
    snm = sorted_neighborhood_pairs(spark, sf_dir).select(
        "name_a", "name_b"
    )
    pair_names = fuzzy.unionByName(snm).distinct()
    na = names.select(
        F.col("p_name").alias("name_a"), F.col("nid").alias("u")
    )
    nb = names.select(
        F.col("p_name").alias("name_b"), F.col("nid").alias("v")
    )
    pairs = pair_names.join(na, "name_a").join(nb, "name_b").select(
        "u", "v"
    )
    comp = connected_components(pairs, src="u", dst="v")
    joined = comp.join(
        names.withColumnRenamed("nid", "node"), "node"
    )
    return (
        joined.groupBy("component")
        .agg(
            F.count("*").alias("n_names"),
            F.sum("n_parts").alias("n_listings"),
            F.min(
                F.when(
                    F.col("node") == F.col("component"), F.col("p_name")
                )
            ).alias("canonical_name"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Link prediction and density clustering
# ---------------------------------------------------------------------------


@register(
    "link_prediction_common_neighbors",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (
  SELECT x.u AS a, y.v AS b, CAST(count(*) AS BIGINT) AS cn
  FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
  GROUP BY 1, 2
),
open_w AS (
  SELECT w.a, w.b, w.cn FROM wedge w
  LEFT JOIN pairs p ON p.pa = w.a AND p.pb = w.b
  WHERE p.pa IS NULL
),
scored AS (
  SELECT o.a, o.b, o.cn, da.d AS deg_a, db.d AS deg_b,
         CAST(o.cn * 1000000 AS BIGINT) // (da.d + db.d - o.cn)
             AS jaccard_ppm
  FROM open_w o
  JOIN deg da ON da.u = o.a
  JOIN deg db ON db.u = o.b
)
SELECT a AS part_a, b AS part_b, cn AS common_neighbors,
       deg_a, deg_b, jaccard_ppm
FROM scored
ORDER BY cn DESC, jaccard_ppm DESC, a, b LIMIT 20
""",
)
def link_prediction_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRAPH LINK PREDICTION on the co-purchase graph: rank part pairs
    that are NOT yet co-purchased by common-neighbor count with a
    neighborhood-Jaccard tiebreak — the classic local link predictors
    (Liben-Nowell & Kleinberg 2003) recommendation engines run as
    'customers who buy these also buy'. Adjacency keeps only
    support >= 2 co-purchase edges (noise floor); candidate pairs come
    from the WEDGE equi-join (2-hop paths a-w-b, a < b — Σ deg(w)²
    work, the same bound as triangle_count_copurchase), existing edges
    are removed by an anti-join, and the Jaccard |Γa∩Γb| /
    |Γa∪Γb| is exact: cn and degrees are int64 counts, published as
    ppm by one floor-division. No transcendental scores (Adamic-Adar's
    1/log d is deliberately NOT used — rank order here needs only
    exact integers). Top-20 via TakeOrdered. Scale: hub-bounded wedge
    work — cap degree (or sample neighborhoods) per the LSH-tuner
    doctrine if a 100 TB catalog has whale parts."""
    pairs = copurchase_edges(spark, sf_dir, pinned=True)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("w2"), F.col("v").alias("b"))
    wedge = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    open_w = wedge.join(
        pairs,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("deg_b"))
    scored = (
        open_w.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            "deg_a",
            "deg_b",
            F.expr("cn * 1000000 div (deg_a + deg_b - cn)").alias(
                "jaccard_ppm"
            ),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"),
        F.desc("jaccard_ppm"),
        "part_a",
        "part_b",
    ).limit(20)


@register(
    "dbscan_box_clusters_errors",
    oracle="""
WITH RECURSIVE e AS (
  SELECT event_id, ts, value FROM events WHERE event_type = 'error'
),
nb AS (
  SELECT a.event_id AS ia, b.event_id AS ib FROM e a JOIN e b
    ON b.ts BETWEEN a.ts - INTERVAL 60 MINUTE
                AND a.ts + INTERVAL 60 MINUTE
   AND abs(b.value - a.value) <= 10.0
),
cnt AS (SELECT ia, CAST(count(*) AS BIGINT) AS n_in FROM nb GROUP BY 1),
core AS (SELECT ia AS id FROM cnt WHERE n_in >= 4),
ce AS (
  SELECT n.ia AS u, n.ib AS v FROM nb n
  JOIN core c1 ON c1.id = n.ia JOIN core c2 ON c2.id = n.ib
  WHERE n.ia <> n.ib
),
reach(u, v) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.u, ce.v FROM reach r JOIN ce ON ce.u = r.v
),
comp AS (SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY 1),
border AS (
  SELECT n.ia AS id, min(c.cluster_id) AS cluster_id
  FROM nb n JOIN comp c ON c.id = n.ib
  WHERE n.ia NOT IN (SELECT id FROM core)
  GROUP BY 1
)
SELECT cluster_id,
       CAST(SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_core,
       CAST(SUM(kind) AS BIGINT) AS n_border,
       CAST(min(id) AS BIGINT) AS min_event_id,
       CAST(max(id) AS BIGINT) AS max_event_id
FROM (
  SELECT id, cluster_id, 0 AS kind FROM comp
  UNION ALL SELECT id, cluster_id, 1 FROM border
)
GROUP BY cluster_id ORDER BY cluster_id
""",
)
def dbscan_box_clusters_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (Ester et al. 1996) of error events in
    (time, value) space — Chebyshev-box neighborhoods (60 min, 10.0),
    minPts 4 — the anomaly-burst grouping that turns a pile of error
    points into 'incidents': CORE points (>= minPts box-neighbors,
    self included) connect into clusters, BORDER points attach to a
    neighboring core's cluster (pinned to the MINIMUM cluster id —
    textbook DBSCAN leaves border assignment order-dependent, which a
    cross-engine oracle cannot tolerate), everything else is noise and
    is excluded. Distributed shape: neighbor pairs come from the 3x3
    GRID-CELL equi-join (grid_join_value_time_neighbors' pattern — no
    theta join ever forms), density is one keyed count, and the
    core-core components run the O(log n) large-star/small-star CC —
    the same machinery as dedup clustering, here on a graph bounded by
    box density. The oracle replays clustering as a transitive-closure
    recursion over the same core graph. Cluster id = min core
    event_id."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts", "value")
    )
    tcell = (F.unix_micros(F.col("ts")) / 3600000000).cast("long")
    vcell = F.floor(F.col("value") / 10.0).cast("long")
    a = e.select(
        F.col("event_id").alias("ia"),
        F.col("ts").alias("ts_a"),
        F.col("value").alias("v_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (tcell + dt).alias("tc"), (vcell + dv).alias("vc")
                    )
                    for dt in (-1, 0, 1)
                    for dv in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    b = e.select(
        F.col("event_id").alias("ib"),
        F.col("ts").alias("ts_b"),
        F.col("value").alias("v_b"),
        F.struct(tcell.alias("tc"), vcell.alias("vc")).alias("cell"),
    )
    nb = (
        a.join(b, "cell")
        .filter(
            (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 60 MINUTE"))
            & (
                F.col("ts_b")
                <= F.col("ts_a") + F.expr("INTERVAL 60 MINUTE")
            )
            & (F.abs(F.col("v_b") - F.col("v_a")) <= 10.0)
        )
        .select("ia", "ib")
    )
    # The pair table is consumed THREE times (density count, core-edge
    # build, border attach) — without materialization each consumer
    # re-runs the 9-cell grid join (r16 adjudication measured the
    # recompute at ~1.2x e2e). MEMORY_AND_DISK: the (ia, ib) pair table
    # is density-bounded (<= minPts-free box occupancy per point), so
    # it spills rather than OOMs at cluster scale.
    from pyspark import StorageLevel

    nb = nb.persist(StorageLevel.MEMORY_AND_DISK)
    cnt = nb.groupBy("ia").agg(F.count("*").alias("n_in"))
    core = cnt.filter(F.col("n_in") >= 4).select(F.col("ia").alias("id"))
    core = core.persist(StorageLevel.MEMORY_AND_DISK)
    c1 = core.select(F.col("id").alias("u_ok"))
    c2 = core.select(F.col("id").alias("v_ok"))
    # Canonical orientation only (optimization r18, guide §2.4): the
    # box predicate is symmetric so nb carries BOTH (x, y) and (y, x);
    # CC symmetrizes internally, so feeding one orientation halves the
    # edge table every star round touches. Components are identical.
    ce = (
        nb.join(c1, nb.ia == c1.u_ok)
        .join(c2, nb.ib == c2.v_ok)
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    )
    cc = connected_components(ce)
    comp = (
        core.join(cc, core.id == cc.node, "left")
        .select(
            "id", F.coalesce("component", "id").alias("cluster_id")
        )
    )
    border = (
        nb.join(core, nb.ia == core.id, "left_anti")
        .join(comp.select(F.col("id").alias("cid"), "cluster_id"),
              F.col("ib") == F.col("cid"))
        .groupBy(F.col("ia").alias("id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    members = comp.select(
        "id", "cluster_id", F.lit(0).alias("kind")
    ).union(border.select("id", "cluster_id", F.lit(1).alias("kind")))
    out = (
        members.groupBy("cluster_id")
        .agg(
            F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).alias(
                "n_core"
            ),
            F.sum("kind").alias("n_border"),
            F.min("id").alias("min_event_id"),
            F.max("id").alias("max_event_id"),
        )
        .orderBy("cluster_id")
    )
    # cluster-count-sized result: pin it eagerly so the persisted pair
    # table can be released before the caller collects (same pattern as
    # personalized_pagerank_copurchase)
    out = out.localCheckpoint(eager=True)
    nb.unpersist()
    core.unpersist()
    return out


@register(
    "edge_triangle_support_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pb
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
sup AS (
  SELECT pa, pb, CAST(count(*) AS BIGINT) AS support FROM (
    SELECT a AS pa, b AS pb FROM tri
    UNION ALL SELECT b, c FROM tri
    UNION ALL SELECT a, c FROM tri
  ) GROUP BY 1, 2
)
SELECT e.pa, e.pb,
       COALESCE(sup.support, 0) AS support,
       COALESCE(sup.support, 0) = 0 AS is_local_bridge
FROM e LEFT JOIN sup ON sup.pa = e.pa AND sup.pb = e.pb
ORDER BY e.pa, e.pb
""",
)
def edge_triangle_support_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EDGE TRIANGLE SUPPORT over the co-purchase graph — per-edge
    triangle membership counts, the quantity k-truss decomposition
    peels on and the classic 'local bridge' detector (support 0 =
    an edge whose endpoints share NO common neighbor — removing it
    lengthens every path between its sides; Granovetter's weak
    ties). Reuses triangle_count_copurchase's canonical edge set
    (pa < pb, >= 2 co-orders) and its compact-forward enumeration
    — cost Σ deg², pure hash equi-joins — then EXPLODES each
    triangle back to its 3 canonical edges and counts per edge; the
    unmatched LEFT side marks the bridges. Everything shuffles on
    vertex/edge keys only; the triangle fan-out is 3x, a constant."""
    e = copurchase_edges(spark, sf_dir, pinned=True)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("a"),
            F.col("e1.pb").alias("b"),
            F.col("e2.pb").alias("c"),
        )
    )
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("pa"), F.col("b").alias("pb")),
                F.struct(F.col("b").alias("pa"), F.col("c").alias("pb")),
                F.struct(F.col("a").alias("pa"), F.col("c").alias("pb")),
            )
        ).alias("ed")
    ).select("ed.pa", "ed.pb")
    sup = edges3.groupBy("pa", "pb").agg(F.count("*").alias("support"))
    return (
        e.join(
            sup.withColumnsRenamed({"pa": "spa", "pb": "spb"}),
            (F.col("spa") == F.col("pa")) & (F.col("spb") == F.col("pb")),
            "left",
        )
        .select(
            "pa",
            "pb",
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            (F.coalesce(F.col("support"), F.lit(0)) == 0).alias(
                "is_local_bridge"
            ),
        )
        .orderBy("pa", "pb")
    )


@register(
    "modularity_brand_partition_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
pb AS (SELECT p_partkey, p_brand FROM part),
ee AS (
  SELECT ba.p_brand AS ca, bb.p_brand AS cb
  FROM e
  JOIN pb ba ON ba.p_partkey = e.pa
  JOIN pb bb ON bb.p_partkey = e.pb
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ee),
intra AS (
  SELECT CAST(count(*) AS BIGINT) AS li FROM ee WHERE ca = cb
),
deg AS (
  SELECT c, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT ca AS c FROM ee UNION ALL SELECT cb FROM ee
  ) GROUP BY c
),
dd AS (
  SELECT SUM(CAST(d AS HUGEINT) * d) AS sd2,
         CAST(count(*) AS BIGINT) AS nc
  FROM deg
)
SELECT m.m AS n_edges, dd.nc AS n_communities, intra.li AS intra_edges,
       round(CAST(4 * CAST(m.m AS HUGEINT) * intra.li - dd.sd2
                  AS DOUBLE)
             / CAST(4 * CAST(m.m AS HUGEINT) * m.m AS DOUBLE)
             * 1000000) / 1000000 AS modularity
FROM m CROSS JOIN intra CROSS JOIN dd
""",
)
def modularity_brand_partition_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEWMAN MODULARITY of the brand partition over the co-purchase
    graph — do co-purchases stay within a brand more than a random
    rewiring with the same degrees would? Q = Σ_c [L_c/m −
    (D_c/2m)²], collapsed to ONE exact division ((4m·L_intra −
    ΣD_c²) / 4m²) so the banned N-ary float sum of per-community
    contributions never happens; the two quadratic terms accumulate
    in DECIMAL(38,0) ⟷ HUGEINT (4m² breaches int64 once the edge
    set passes ~1.5e9 — 128-bit keeps the numerator exact at any
    SF, and both engines round to the identical double). This is
    the fitness function lpa_communities_copurchase optimizes,
    evaluated on an INDEPENDENT exogenous partition — the baseline
    any community detection must beat. Edges reuse the canonical
    co-purchase set; brands attach through two broadcast part
    joins; degrees live on the ≤25-row community domain."""
    e = copurchase_edges(spark, sf_dir)
    pb_ = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ee = (
        e.join(
            F.broadcast(pb_.withColumnsRenamed(
                {"p_partkey": "ka", "p_brand": "ca"}
            )),
            F.col("ka") == F.col("pa"),
        )
        .join(
            F.broadcast(pb_.withColumnsRenamed(
                {"p_partkey": "kb", "p_brand": "cb"}
            )),
            F.col("kb") == F.col("pb"),
        )
        .select("ca", "cb")
    )
    m = ee.agg(F.count("*").alias("m"))
    intra = ee.filter(F.col("ca") == F.col("cb")).agg(
        F.count("*").alias("li")
    )
    deg = (
        ee.select(F.col("ca").alias("c"))
        .unionByName(ee.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("d"))
    )
    dec = "decimal(38,0)"
    dd = deg.agg(
        F.sum((F.col("d") * F.col("d")).cast(dec)).alias("sd2"),
        F.count("*").alias("nc"),
    )
    num = (
        F.lit(4).cast(dec) * F.col("m") * F.col("li") - F.col("sd2")
    ).cast("double")
    den = (F.lit(4).cast(dec) * F.col("m") * F.col("m")).cast("double")
    return (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dd))
        .select(
            F.col("m").alias("n_edges"),
            F.col("nc").alias("n_communities"),
            F.col("li").alias("intra_edges"),
            (F.round(num / den * 1000000) / 1000000).alias("modularity"),
        )
    )


@register(
    "link_prediction_resource_allocation",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (
  SELECT x.u AS a, y.v AS b, CAST(count(*) AS BIGINT) AS cn,
         CAST(SUM(1000000 // dw.d) AS BIGINT) AS ra_micro
  FROM adj x
  JOIN adj y ON x.v = y.u AND x.u < y.v
  JOIN deg dw ON dw.u = x.v
  GROUP BY 1, 2
),
open_w AS (
  SELECT w.a, w.b, w.cn, w.ra_micro FROM wedge w
  LEFT JOIN pairs p ON p.pa = w.a AND p.pb = w.b
  WHERE p.pa IS NULL
)
SELECT a AS part_a, b AS part_b, cn AS common_neighbors, ra_micro
FROM open_w
ORDER BY ra_micro DESC, cn DESC, a, b LIMIT 20
""",
)
def link_prediction_resource_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang 2009)
    on the co-purchase graph — the degree-penalized upgrade of
    link_prediction_common_neighbors: each common neighbor w
    contributes 1/deg(w) instead of 1, so a hub that co-occurs with
    everything stops dominating the ranking (RA beats plain CN and
    even Adamic-Adar on most real graphs, and unlike AA's 1/log·deg
    it needs NO transcendentals — per-neighbor credit is the exact
    integer 10⁶ // deg(w), summed; the documented per-term-floored
    discrete variant). Same scale-bounded frame as the CN query:
    support ≥ 2 adjacency, Σ deg(w)² wedge equi-join with the
    center's degree joined IN the wedge pass, existing edges removed
    by anti-join, deterministic top-20 by (ra, cn, pair). Hub caps
    per the LSH-tuner doctrine apply at whale-catalog scale."""
    pairs = copurchase_edges(spark, sf_dir, pinned=True)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("w2"), F.col("v").alias("b"))
    dw = deg.select(F.col("u").alias("wd"), F.col("d").alias("d_w"))
    wedge = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .join(dw, F.col("w") == F.col("wd"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr("1000000 div d_w")).alias("ra_micro"),
        )
    )
    open_w = wedge.join(
        pairs,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    return (
        open_w.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            "ra_micro",
        )
        .orderBy(
            F.desc("ra_micro"), F.desc("common_neighbors"),
            "part_a", "part_b",
        )
        .limit(20)
    )


@register(
    "harmonic_closeness_sampled_bfs",
    oracle="""
WITH RECURSIVE items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
verts AS (SELECT DISTINCT pa AS v FROM sym),
seeds AS (
  SELECT v FROM verts ORDER BY md5(CAST(v AS VARCHAR)), v LIMIT 8
),
walk(s, v, hop) AS (
  SELECT v, v, 0 FROM seeds
  UNION
  SELECT w.s, sym.pb, w.hop + 1
  FROM walk w JOIN sym ON sym.pa = w.v
  WHERE w.hop < 4
),
dist AS (SELECT s, v, min(hop) AS hop FROM walk GROUP BY 1, 2)
SELECT s AS seed,
       CAST(count(*) FILTER (hop > 0) AS BIGINT) AS n_reached,
       CAST(COALESCE(SUM(1000000 // hop) FILTER (hop > 0), 0)
            AS BIGINT) AS harmonic_micro
FROM dist GROUP BY s ORDER BY seed
""",
)
def harmonic_closeness_sampled_bfs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HARMONIC CLOSENESS CENTRALITY (Boldi & Vigna's 'axioms for
    centrality' choice — Σ 1/d(s,v), which unlike classic closeness
    is well-defined on DISCONNECTED graphs because unreachable
    vertices contribute 0 rather than ∞) for 8 md5-sampled seed
    vertices of the co-purchase graph, truncated at the 4-hop budget
    — the centrality estimator you can actually afford at catalog
    scale, where exact all-pairs BFS is quadratic: sampled pivots ×
    bounded hops is how HyperBall-style engines do it. The seed
    sample is the md5 order (the repo's only sanctioned randomness —
    replayable in SQL), the multi-source BFS is the
    bfs_hops_copurchase frontier relaxation with a (seed, vertex)
    composite state key (one equi-join + one anti-join per round,
    rounds = hop budget), and per-hop credit is the exact integer
    10⁶ // hop summed per seed (per-term-floored discrete variant).
    State is |seeds|·|V| at worst — seeds is the knob that holds it
    linear at 100 TB. Below _LOCAL_GRAPH_MAX_EDGES the multi-source
    relaxation runs in the single-task vectorized kernel (the md5
    seed order is replayed exactly — lowercase-hex lexicographic;
    forced-path-pinned)."""
    e = copurchase_edges(spark, sf_dir, pinned=True)
    if e.count() <= _LOCAL_GRAPH_MAX_EDGES:
        out = (
            _harmonic_local(e, 8, 4)
            .orderBy("seed")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(e)
        return out
    sym = e.unionByName(
        e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    ).localCheckpoint()
    release_local_checkpoint(e)  # ADVICE r18: sym is pinned; e is consumed
    verts = sym.select(F.col("pa").alias("v")).distinct()
    seeds = (
        verts.orderBy(F.md5(F.col("v").cast("string")), "v")
        .limit(8)
        .localCheckpoint()
    )
    layer = seeds.select(
        F.col("v").alias("s"), F.col("v").alias("v"), F.lit(0).alias("hop")
    ).localCheckpoint()
    visited = layer.select("s", "v")
    layers = [layer]
    frontier = layer.select("s", "v")
    for h in range(1, 5):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["pa"])
            .select("s", F.col("pb").alias("v"))
            .distinct()
            .join(visited, ["s", "v"], "left_anti")
            .select("s", "v", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        layers.append(nxt)
        visited = visited.unionByName(nxt.select("s", "v"))
        frontier = nxt.select("s", "v")
    dist = layers[0]
    for lay in layers[1:]:
        dist = dist.unionByName(lay)
    # aggregate over ALL dist rows (the hop-0 self row keeps an
    # isolated seed present with zeros, matching the oracle's
    # FILTER-inside-aggregate shape)
    return (
        dist.groupBy(F.col("s").alias("seed"))
        .agg(
            F.sum(F.when(F.col("hop") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_reached"),
            F.coalesce(
                F.sum(
                    F.when(F.col("hop") > 0, F.expr("1000000 div hop"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("harmonic_micro"),
        )
        .orderBy("seed")
    )


def _ppr_oracle(rounds: int = _PR_ROUNDS) -> str:
    """Unrolled integer-exact PERSONALIZED PageRank oracle — the
    _pagerank_oracle mechanical unroll with teleport mass restricted
    to the seed set (parts of one brand)."""
    ctes = [
        f"""base AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM base a JOIN base b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS MATERIALIZED (
  SELECT pa AS v, pb AS u FROM und
  UNION ALL
  SELECT pb AS v, pa AS u FROM und
),
deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY v
),
seeds AS MATERIALIZED (
  SELECT dg.v FROM deg dg
  JOIN part p ON p.p_partkey = dg.v
  WHERE p.p_brand = 'Brand#11'
),
r0 AS MATERIALIZED (
  SELECT dg.v,
         CAST(CASE WHEN s.v IS NOT NULL THEN {_PR_R0} ELSE 0 END
              AS BIGINT) AS r
  FROM deg dg LEFT JOIN seeds s ON s.v = dg.v
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT dg.v,
         CAST(CASE WHEN s.v IS NOT NULL THEN {_PR_TELEPORT} ELSE 0 END
              + COALESCE(SUM((r.r * 17) // (20 * sd.d)), 0)
              AS BIGINT) AS r
  FROM deg dg
  LEFT JOIN seeds s ON s.v = dg.v
  LEFT JOIN e ON e.v = dg.v
  LEFT JOIN r{i - 1} r ON r.v = e.u
  LEFT JOIN deg sd ON sd.v = e.u
  GROUP BY dg.v, s.v
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS part, r AS rank_units FROM r{rounds}"
        + "\nWHERE r > 0"
        + "\nORDER BY rank_units DESC, part"
    )


@register(
    "personalized_pagerank_copurchase",
    oracle=_ppr_oracle(),
)
def personalized_pagerank_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSONALIZED PageRank from a seed set (one brand's parts) over
    the co-purchase graph — the similar-items primitive behind
    'because you bought' recommenders and Pinterest's Pixie: where
    global pagerank_copurchase spreads teleport mass uniformly, PPR
    teleports ONLY back to the seeds, so rank decays with co-purchase
    distance from the brand and the output ranks the rest of the
    catalog BY AFFINITY to it. Same integer-exact recursion as the
    global variant (units of 1e-9·R0, damping 17/20 as integer
    division, 5 fixed rounds): seeds start at R0 and keep the exact
    teleport constant, non-seeds start at 0 — vertices never reached
    stay 0 and are dropped (WHERE r > 0), keeping the output
    affinity-sized, not catalog-sized. Scale shape identical to
    pagerank_copurchase: one static degree-annotated edge list, one
    rank-vector equi-join + dst aggregation per round; the seed
    restriction adds one broadcast-sized dimension join. Below
    _LOCAL_GRAPH_MAX_EDGES the recursion runs in the single-task
    vectorized kernel (forced-path-pinned to the loop); seed markers
    ride the kernel's input frame so there is no driver collect."""
    und = copurchase_edges(spark, sf_dir, pinned=True)
    if und.count() <= _LOCAL_GRAPH_MAX_EDGES:
        seeds = (
            load_table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#11")
            .select(F.col("p_partkey").alias("sv"))
        )
        out = (
            _pagerank_local(und, seed_marks=seeds)
            .orderBy(F.desc("rank_units"), "part")
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(und)
        return out
    edges = und.select(
        F.col("pa").alias("v"), F.col("pb").alias("u")
    ).unionByName(
        und.select(F.col("pb").alias("v"), F.col("pa").alias("u"))
    )
    edges = edges.persist()
    deg = edges.groupBy("v").agg(F.count("*").cast("long").alias("d")).persist()
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#11"
    ).select(F.col("p_partkey").alias("sv"))
    is_seed = F.col("sv").isNotNull()
    marked = deg.join(
        F.broadcast(p), deg.v == F.col("sv"), "left"
    ).select("v", "d", is_seed.alias("seed")).persist()
    e_src = (
        edges.join(deg.select(F.col("v").alias("u"), "d"), "u")
        .select("v", "u", "d")
        .persist()
    )
    # Materialize the static tables once before the loop — the
    # pagerank_copurchase treatment (optimization r18, guide §2.4/§5):
    # per-round broadcast subqueries compile their own plans, so a lazy
    # cache lets each one replay the co-purchase self-join from parquet.
    e_src.count()
    ranks = marked.select(
        "v",
        F.when(F.col("seed"), F.lit(_PR_R0))
        .otherwise(0)
        .cast("long")
        .alias("r"),
    )
    prev = None
    for _ in range(_PR_ROUNDS):
        contrib = (
            e_src.join(ranks.select(F.col("v").alias("u"), "r"), "u")
            .select("v", F.expr("(r * 17) div (20 * d)").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            marked.join(contrib, "v", "left")
            .select(
                "v",
                (
                    F.when(F.col("seed"), F.lit(_PR_TELEPORT))
                    .otherwise(0)
                    .cast("long")
                    + F.coalesce(F.col("s"), F.lit(0))
                ).alias("r"),
            )
        )
        # pin each round, free its predecessor (CC lineage doctrine)
        ranks = ranks.localCheckpoint(eager=True)
        if prev is not None:
            release_local_checkpoint(prev)
        prev = ranks
    out = (
        ranks.filter(F.col("r") > 0)
        .select(F.col("v").alias("part"), F.col("r").alias("rank_units"))
        .orderBy(F.desc("rank_units"), "part")
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    deg.unpersist()
    marked.unpersist()
    e_src.unpersist()
    release_local_checkpoint(und)  # ADVICE r18: at-scale branch leaked it
    if prev is not None:
        release_local_checkpoint(prev)
    return out


def _hits_oracle(rounds: int = 3) -> str:
    """Unrolled integer-exact HITS oracle over the customer→part
    purchase bipartite graph, with the power-iteration sign-free
    max-normalization (all scores non-negative: floors are exact and
    identical in both engines)."""
    ctes = [
        """e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
a0 AS MATERIALIZED (
  SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS a FROM e
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""hu{i} AS MATERIALIZED (
  SELECT e.c, SUM(CAST(a.a AS HUGEINT)) AS h
  FROM e JOIN a{i - 1} a ON a.p = e.p GROUP BY e.c
),
hm{i} AS (SELECT max(h) AS m FROM hu{i}),
h{i} AS MATERIALIZED (
  SELECT c, CAST(h * 1000000 // m AS BIGINT) AS h
  FROM hu{i} CROSS JOIN hm{i} WHERE m > 0
),
au{i} AS MATERIALIZED (
  SELECT e.p, SUM(CAST(h.h AS HUGEINT)) AS a
  FROM e JOIN h{i} h ON h.c = e.c GROUP BY e.p
),
am{i} AS (SELECT max(a) AS m FROM au{i}),
a{i} AS MATERIALIZED (
  SELECT p, CAST(a * 1000000 // m AS BIGINT) AS a
  FROM au{i} CROSS JOIN am{i} WHERE m > 0
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT 'authority' AS kind, p AS node, a AS score_micro FROM a{rounds}
UNION ALL
SELECT 'hub', c, h FROM h{rounds}
ORDER BY kind, score_micro DESC, node"""
    )


@register(
    "hits_hubs_authorities_purchases",
    oracle=_hits_oracle(),
)
def hits_hubs_authorities_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HITS (Kleinberg's hubs-and-authorities) on the customer→part
    purchase bipartite graph: a customer is a good HUB when they buy
    high-authority parts, a part a good AUTHORITY when bought by
    good hubs — the mutually-recursive centrality pair that separates
    breadth buyers from consensus products (degree alone conflates
    them; PageRank on the bipartite projection loses the two-sided
    story). Three fixed rounds of the alternating update, each a
    single equi-join + key aggregation over the distinct edge list,
    with the power-iteration normalization discipline: scores are
    non-negative so v ← ⌊v·10⁶/max(v)⌋ floors identically in both
    engines (no sign split needed), sums ride HUGEINT ⟷
    decimal(38,0). Output is both final vectors in long format
    (kind, node, score). Scale: O(|E|) per round, bounded rounds —
    the pagerank doctrine on a bipartite edge list."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    # Materialize the edge cache once before the loop — the
    # pagerank_copurchase treatment (optimization r18, guide §2.4/§5):
    # the half-rounds' broadcast subqueries compile their own plans, so
    # a lazy cache lets the overlapping round-1 broadcast jobs each
    # replay the join+distinct edge construction from parquet.
    if e.count() <= _LOCAL_GRAPH_MAX_EDGES:
        # bounded bipartite edge set: run the 3 alternating rounds in
        # the single-task vectorized kernel (_LOCAL_GRAPH_MAX_EDGES;
        # forced-path-pinned to the loop below)
        out = (
            _hits_local(e, 3)
            .orderBy("kind", F.desc("score_micro"), "node")
            .localCheckpoint(eager=True)
        )
        e.unpersist()
        return out
    auth = e.select("p").distinct().select(
        "p", F.lit(1000000).cast("long").alias("a")
    )
    dec = "decimal(38,0)"
    hubs = None
    # localCheckpoint per half-round: the max-normalization references
    # its un-materialized input TWICE (sum frame + its own max), so
    # without eager truncation the plan doubles every half-round —
    # 2^6 subplan copies by round 3, which exploded codegen and OOMed
    # a 1 GB vanilla driver heap (the BFS/CC lineage doctrine, plus a
    # plan-growth reason specific to the normalize-by-own-aggregate
    # shape; the vectors themselves are node-count-sized and tiny).
    for _ in range(3):
        # The un-normalized sum vector is referenced twice (its own max
        # + the normalize select); a lazy persist gives the reuse
        # without an extra eager job per half-round — the plan growth
        # the old eager checkpoint guarded against is bounded here
        # because the previous vector is already a checkpointed
        # LogicalRDD, so the doubled subplan is one join+agg deep
        # (optimization r18, guide §1.4 job-count latency).
        hu = (
            e.join(auth.select(F.col("p").alias("ap"), "a"), e.p == F.col("ap"))
            .groupBy("c")
            .agg(F.sum(F.col("a").cast(dec)).alias("h"))
            .persist()
        )
        hm = hu.agg(F.max("h").alias("m"))
        hubs = (
            hu.crossJoin(F.broadcast(hm))
            .filter(F.col("m") > 0)
            .select("c", F.expr("CAST(h * 1000000 div m AS BIGINT)").alias("h"))
            .localCheckpoint()
        )
        hu.unpersist()  # hubs is pinned; the sum vector is done
        au = (
            e.join(hubs.select(F.col("c").alias("hc"), "h"), e.c == F.col("hc"))
            .groupBy("p")
            .agg(F.sum(F.col("h").cast(dec)).alias("a"))
            .persist()
        )
        am = au.agg(F.max("a").alias("m"))
        auth = (
            au.crossJoin(F.broadcast(am))
            .filter(F.col("m") > 0)
            .select("p", F.expr("CAST(a * 1000000 div m AS BIGINT)").alias("a"))
            .localCheckpoint()
        )
        au.unpersist()  # auth is pinned; the sum vector is done
    out = (
        auth.select(
            F.lit("authority").alias("kind"),
            F.col("p").alias("node"),
            F.col("a").alias("score_micro"),
        )
        .unionByName(
            hubs.select(
                F.lit("hub").alias("kind"),
                F.col("c").alias("node"),
                F.col("h").alias("score_micro"),
            )
        )
        .orderBy("kind", F.desc("score_micro"), "node")
    )
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out


# ---------------------------------------------------------------------------
# Co-purchase graph: per-node clustering coefficients
# ---------------------------------------------------------------------------


@register(
    "clustering_coefficient_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
tri AS (
  SELECT x.u AS node, CAST(count(*) AS BIGINT) AS t
  FROM adj x
  JOIN adj y ON y.u = x.u AND x.v < y.v
  JOIN pairs p ON p.pa = x.v AND p.pb = y.v
  GROUP BY x.u
)
SELECT deg.u AS part, deg.d AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(tri.t, 0) * 1000000
            // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
FROM deg LEFT JOIN tri ON tri.node = deg.u
WHERE deg.d >= 2
ORDER BY cc_ppm DESC, degree DESC, part LIMIT 20
""",
)
def clustering_coefficient_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-NODE LOCAL CLUSTERING COEFFICIENT on the co-purchase graph
    — Watts-Strogatz cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)), the
    node-level density readout triangle_count_copurchase only
    publishes globally (and the structural signal behind 'tightly
    bundled accessory kits' vs 'hub parts bought with everything').
    Per-node triangles come from the wedge-closure equi-join (both
    neighbors of v adjacent, v's wedge oriented x.v < y.v so each
    triangle counts once per corner — Σ deg² work, the compact-
    forward bound), closed against the canonical pa < pb edge set.
    cc is exact: integer triangle counts and degrees, one ppm
    floor-division, deg ≥ 2 filter excludes the undefined leaves.
    Deterministic top-20 (cc desc, degree desc, part). Scale: the
    same support-≥ 2 pruned edge set as every copurchase query; no
    step exceeds the wedge bound."""
    pairs = copurchase_edges(spark, sf_dir, pinned=True)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("node"), F.col("v").alias("w1"))
    y = adj.select(F.col("u").alias("node2"), F.col("v").alias("w2"))
    tri = (
        x.join(
            y,
            (F.col("node2") == F.col("node"))
            & (F.col("w1") < F.col("w2")),
        )
        .join(
            pairs,
            (F.col("pa") == F.col("w1")) & (F.col("pb") == F.col("w2")),
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tri, deg.u == tri.node, "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000"
                " div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.desc("degree"), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph: rich-club / k-truss / preferential attachment on co-purchase
# ---------------------------------------------------------------------------

# Support->=2 co-purchase edge list (the graph every co-purchase query
# shares — see triangle_count_copurchase / kcore_peel_copurchase).
_COPURCHASE_CTE = """
items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_edges(spark, sf_dir, pinned=True)


@register(
    "rich_club_coefficient_copurchase",
    oracle="""
WITH
""" + _COPURCHASE_CTE + """,
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
club AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS nk
  FROM deg, ks WHERE deg.d > ks.k GROUP BY ks.k
),
ek AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS mk
  FROM pairs p
  JOIN deg da ON da.u = p.pa
  JOIN deg db ON db.u = p.pb, ks
  WHERE da.d > ks.k AND db.d > ks.k
  GROUP BY ks.k
)
SELECT c.k, c.nk AS club_size, COALESCE(e.mk, 0) AS club_edges,
       CASE WHEN c.nk > 1
            THEN CAST(COALESCE(e.mk, 0) * 2000000
                      // (c.nk * (c.nk - 1)) AS BIGINT)
       END AS phi_ppm
FROM club c LEFT JOIN ek e ON e.k = c.k
ORDER BY c.k
""",
)
def rich_club_coefficient_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RICH-CLUB COEFFICIENT φ(k) of the co-purchase graph at k ∈
    {2,4,8,16,32} — do high-degree parts preferentially co-purchase
    with EACH OTHER (hub oligarchy) or spread across the catalog?
    φ(k) = 2·E_{>k} / (n_{>k}(n_{>k}−1)): the density of the
    subgraph induced by nodes of degree > k, published as one exact
    non-negative ppm floor-division per k (counts are int64; the
    2× lives in the scale constant). Complements
    degree_assortativity_copurchase (a single global correlation)
    with the full k-profile the assortativity coefficient
    averages away. Scale: one edge rollup + a degree join + a 5-row
    broadcast threshold table; no wedge work at all."""
    pairs = _copurchase_pairs(spark, sf_dir)
    adj = pairs.select(F.col("pa").alias("u")).union(
        pairs.select(F.col("pb").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    ks = spark.range(1).selectExpr(
        "explode(array(2, 4, 8, 16, 32)) AS k"
    )
    club = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("nk"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("dda"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("ddb"))
    ek = (
        pairs.join(da, F.col("pa") == F.col("ua"))
        .join(db, F.col("pb") == F.col("ub"))
        .crossJoin(F.broadcast(ks))
        .filter((F.col("dda") > F.col("k")) & (F.col("ddb") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("mk"))
    )
    return (
        club.join(ek, "k", "left")
        .selectExpr(
            "CAST(k AS INT) AS k",
            "nk AS club_size",
            "COALESCE(mk, 0) AS club_edges",
            "CASE WHEN nk > 1 THEN CAST(COALESCE(mk, 0) * 2000000"
            " div (nk * (nk - 1)) AS BIGINT) END AS phi_ppm",
        )
        .orderBy("k")
    )


def _truss_round_sql(i: int) -> str:
    """One unrolled 3-truss peel round: keep edges of e{i} with >= 1
    triangle support inside e{i}. Every stage is MATERIALIZED: each
    CTE is referenced by two+ later stages and the chain would
    otherwise be re-inlined (and re-computed) once per unrolled
    round — the recursive-oracle doctrine."""
    return f"""
adj{i} AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM e{i}
  UNION ALL SELECT pb, pa FROM e{i}
),
e{i + 1} AS MATERIALIZED (
  SELECT p.pa, p.pb
  FROM e{i} p
  WHERE EXISTS (
    SELECT 1 FROM adj{i} x JOIN adj{i} y
      ON x.v = y.v AND x.u = p.pa AND y.u = p.pb
  )
)"""


@register(
    "ktruss_3_copurchase",
    oracle="""
WITH
""" + _COPURCHASE_CTE.replace(
    "pairs AS (", "pairs AS MATERIALIZED ("
) + """,
e0 AS MATERIALIZED (SELECT pa, pb FROM pairs),
""" + ",".join(_truss_round_sql(i) for i in range(3)) + """
SELECT 0 AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS edges_remaining
UNION ALL SELECT 1, (SELECT CAST(count(*) AS BIGINT) FROM e1)
UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM e2)
UNION ALL SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM e3)
ORDER BY round
""",
)
def ktruss_3_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-TRUSS PEELING of the co-purchase graph — the EDGE analog of
    kcore_peel_copurchase: an edge survives iff it closes at least
    one triangle among surviving edges (k-truss with k = 3 ⇒
    support ≥ k−2 = 1), iterated 3 bounded rounds (the bounded-
    rounds doctrine: each peel round is ONE wedge equi-join on the
    surviving adjacency — Σ deg² work — plus a semi-join; the round
    count is a query constant, never data-driven). Published as the
    per-round edge-census trajectory (round 0 = raw support-≥2
    graph); a converged trajectory shows edges_remaining constant
    across the last rounds. Trusses are the community-detection
    precursor (cohesive cores stricter than k-core — every edge,
    not just every node, needs embedded support). Exact integer
    counts only."""
    # Each round's edge set is PERSISTED before the count: without it
    # round i re-evaluates the whole peel lineage of rounds 0..i-1
    # (O(rounds²) wedge joins) — the iterative-algorithm caching
    # doctrine (same as lpa_communities / pagerank rounds).
    pairs = _copurchase_pairs(spark, sf_dir)
    e = pairs.persist()
    cached = [e]
    counts = [("0", e.count())]
    for i in range(3):
        adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).union(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        x = adj.select(F.col("u").alias("xa"), F.col("v").alias("w"))
        y = adj.select(F.col("u").alias("yb"), F.col("v").alias("w2"))
        tri_edges = (
            x.join(y, F.col("w") == F.col("w2"))
            .select(F.col("xa").alias("pa"), F.col("yb").alias("pb"))
            .distinct()
        )
        e = e.join(tri_edges, ["pa", "pb"], "left_semi").persist()
        cached.append(e)
        counts.append((str(i + 1), e.count()))
    rows = [(int(r), int(c)) for r, c in counts]
    for df in cached:
        df.unpersist()
    return spark.createDataFrame(
        rows, "round INT, edges_remaining BIGINT"
    ).orderBy("round")


@register(
    "link_prediction_pref_attachment",
    oracle="""
WITH
""" + _COPURCHASE_CTE + """,
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (
  SELECT x.u AS a, y.v AS b
  FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
  GROUP BY 1, 2
),
open_w AS (
  SELECT w.a, w.b FROM wedge w
  LEFT JOIN pairs p ON p.pa = w.a AND p.pb = w.b
  WHERE p.pa IS NULL
)
SELECT o.a AS part_a, o.b AS part_b,
       da.d AS deg_a, db.d AS deg_b,
       CAST(da.d * db.d AS BIGINT) AS pa_score
FROM open_w o
JOIN deg da ON da.u = o.a
JOIN deg db ON db.u = o.b
ORDER BY pa_score DESC, part_a, part_b LIMIT 20
""",
)
def link_prediction_pref_attachment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PREFERENTIAL-ATTACHMENT LINK PREDICTION on the co-purchase
    graph: rank not-yet-co-purchased 2-hop pairs by deg(a)·deg(b) —
    the growth-model predictor (Barabási–Albert: new edges attach
    proportionally to degree products), the GLOBAL-popularity
    counterweight to link_prediction_common_neighbors /
    _resource_allocation (which reward local overlap; PA rewards
    joint popularity even with zero shared neighbors among the
    candidates). Candidates come from the same wedge join + edge
    anti-join; the score is one exact int64 product, top-20 by
    (score, pair) deterministic order. Scale: hub-bounded wedge
    work, same as the CN predictor."""
    pairs = _copurchase_pairs(spark, sf_dir)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("w2"), F.col("v").alias("b"))
    wedge = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .select("a", "b")
        .distinct()
    )
    open_w = wedge.join(
        pairs,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("deg_b"))
    return (
        open_w.join(da, F.col("a") == F.col("ua"))
        .join(db, F.col("b") == F.col("ub"))
        .selectExpr(
            "a AS part_a",
            "b AS part_b",
            "deg_a",
            "deg_b",
            "CAST(deg_a * deg_b AS BIGINT) AS pa_score",
        )
        .orderBy(F.desc("pa_score"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Double-sweep diameter lower bound
# ---------------------------------------------------------------------------

_SWEEP_SQL = """
walk{tag}(v, hop) AS (
  SELECT {seed}, 0
  UNION
  SELECT s.pb, w.hop + 1
  FROM walk{tag} w JOIN sym s ON s.pa = w.v
  WHERE w.hop < 4
),
dist{tag} AS (
  SELECT v, CAST(min(hop) AS BIGINT) AS hop FROM walk{tag} GROUP BY v
),
far{tag} AS (
  SELECT v, hop FROM dist{tag}
  ORDER BY hop DESC, v LIMIT 1
)"""


@register(
    "diameter_double_sweep_copurchase",
    oracle="""
WITH RECURSIVE
""" + _COPURCHASE_CTE.replace(
        "pairs AS (", "pairs AS MATERIALIZED ("
    ) + """,
sym AS MATERIALIZED (
  SELECT pa, pb FROM pairs UNION ALL SELECT pb, pa FROM pairs
),
""" + _SWEEP_SQL.format(tag="1", seed="(SELECT min(pa) FROM sym)")
    + ","
    + _SWEEP_SQL.format(tag="2", seed="(SELECT v FROM far1)") + """
SELECT (SELECT min(pa) FROM sym) AS start_vertex,
       (SELECT v FROM far1) AS turn_vertex,
       (SELECT hop FROM far1) AS first_sweep_dist,
       (SELECT v FROM far2) AS far_vertex,
       (SELECT hop FROM far2) AS diameter_lower_bound,
       (SELECT CAST(count(*) AS BIGINT) FROM dist2) AS n_reached
""",
)
def diameter_double_sweep_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOUBLE-SWEEP DIAMETER LOWER BOUND of the co-purchase graph —
    the classic 2-BFS heuristic (Magnien/Latapy/Habib: BFS from an
    arbitrary vertex, re-BFS from the farthest found; the second
    eccentricity is a lower bound that is EXACT on trees and
    near-tight in practice — how 'how wide is the catalog graph'
    gets answered without all-pairs work): both sweeps are the
    bfs_hops_copurchase frontier-relaxation (hop budget 4, a query
    constant; each round ONE frontier-adjacency equi-join with the
    visited-set anti-join, per-round persist — the iterative-
    algorithm caching doctrine), the turn vertex picked by the
    deterministic (hop DESC, vertex) order. Scale: 2 × 4 bounded
    rounds of Σdeg-work joins."""
    pairs = _copurchase_pairs(spark, sf_dir).persist()
    sym = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(
        pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    ).persist()

    def sweep(seed_df):
        # seed_df: single row (v) — frontier relaxation, 4 bounded
        # rounds (the bfs_hops budget), built LAZILY: no per-round
        # driver action — one collect at the end materializes the
        # whole sweep (per-round isEmpty/count actions measured ~3s
        # of job overhead each on a graph this small)
        dist = seed_df.select(
            F.col("v"), F.lit(0).cast("long").alias("hop")
        ).localCheckpoint()
        frontier = dist
        for hop in range(1, 5):
            fr = frontier.select(F.col("v").alias("fv"))
            visited = dist.select(F.col("v").alias("dv"))
            sy = sym.alias("sy")
            nxt = frontier = (
                fr.join(sy, F.col("fv") == F.col("sy.u"))
                .select(F.col("sy.v").alias("nv"))
                .distinct()
                .join(
                    visited, F.col("nv") == F.col("dv"), "left_anti"
                )
                .select(
                    F.col("nv").alias("v"),
                    F.lit(hop).cast("long").alias("hop"),
                )
            )
            # localCheckpoint truncates the per-round lineage: the
            # lazy 4-round DAG otherwise compounds to ~200 stages of
            # shuffle bookkeeping on a graph this small
            dist = dist.unionByName(nxt).localCheckpoint(eager=False)
        far_rows = (
            dist.orderBy(F.desc("hop"), "v").limit(1).collect()
        )
        n_reached = dist.count()
        return far_rows[0], n_reached

    start = sym.agg(F.min("u").alias("v"))
    far1, _ = sweep(start)
    far2, n2 = sweep(
        sym.sparkSession.createDataFrame([(far1["v"],)], "v bigint")
    )
    start_v = start.collect()[0]["v"]
    pairs.unpersist()
    sym.unpersist()
    return spark.createDataFrame(
        [
            (
                int(start_v),
                int(far1["v"]),
                int(far1["hop"]),
                int(far2["v"]),
                int(far2["hop"]),
                int(n2),
            )
        ],
        "start_vertex bigint, turn_vertex bigint,"
        " first_sweep_dist bigint, far_vertex bigint,"
        " diameter_lower_bound bigint, n_reached bigint",
    )


# ---------------------------------------------------------------------------
# Configuration-model triangle excess (graph null check)
# ---------------------------------------------------------------------------


@register(
    "config_model_triangle_excess_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
  GROUP BY v
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d) AS BIGINT) AS s1,
         CAST(SUM(d * (d - 1)) AS BIGINT) AS s2
  FROM deg
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS t_obs
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pb
  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT s.n_vertices, CAST(s.s1 // 2 AS BIGINT) AS n_edges, s.s2,
       tri.t_obs,
       CAST(CAST(s2 AS HUGEINT) * s2 * s2 * 1000
            // (6 * CAST(s1 AS HUGEINT) * s1 * s1) AS BIGINT)
           AS expected_milli,
       CASE WHEN s2 > 0 THEN
         CAST(CAST(t_obs AS HUGEINT) * 6000 * s1 * s1 * s1
              // (CAST(s2 AS HUGEINT) * s2 * s2) AS BIGINT)
       END AS excess_ratio_milli
FROM s CROSS JOIN tri
""",
)
def config_model_triangle_excess_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONFIGURATION-MODEL TRIANGLE NULL CHECK on the co-purchase
    graph: observed triangles vs the Chung-Lu/configuration-model
    expectation E[T] ≈ (1/6)·(S₂/S₁)³ with S₁ = Σd, S₂ = Σd(d−1) —
    the closed-form degree-sequence null every network-science
    clustering claim is tested against (excess ≫ 1 means real
    community structure, not degree artifacts). Same edge set and
    oriented two-equi-join triangle enumeration as
    triangle_count_copurchase (llm/graph.py); the null needs only the
    degree sequence, one aggregation. All ratios HUGEINT ⟷
    decimal(38,0) milli floor-divisions (non-negative). Scale shape:
    compact-forward triangle join (Σ deg² bound) + one degree rollup."""
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("v"))
        .unionByName(e.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    s = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("s2"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count("*").alias("t_obs"))
    )
    return s.crossJoin(F.broadcast(tri)).selectExpr(
        "n_vertices",
        "CAST(s1 div 2 AS BIGINT) AS n_edges",
        "s2",
        "t_obs",
        spark_sql(
            "CAST(CAST(s2 AS {I}) * s2 * s2 * 1000"
            " {D} (6 * CAST(s1 AS {I}) * s1 * s1) AS BIGINT)"
        )
        + " AS expected_milli",
        spark_sql(
            "CASE WHEN s2 > 0 THEN"
            " CAST(CAST(t_obs AS {I}) * 6000 * s1 * s1 * s1"
            " {D} (CAST(s2 AS {I}) * s2 * s2) AS BIGINT) END"
        )
        + " AS excess_ratio_milli",
    )
