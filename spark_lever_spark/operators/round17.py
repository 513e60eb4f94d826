"""Round-17 additions: cross-source entity resolution and k-means
Lloyd refinement.

The headline operator closes the capability gap VERDICT r16 ranked
highest for a 100 TB training-data pipeline:

* **Cross-source fuzzy entity resolution** — LSH blocking + cheap
  signature screen + exact multi-field pairwise scoring + connected-
  component merge, end-to-end over the document corpus. This is the
  record-linkage composition (Fellegi-Sunter blocking/scoring split)
  the reference's cogroup/join surface supports piecewise
  (PairRDDFunctions.scala:491-649); here it is one declarative plan
  whose joins are all hash equi-joins.

Supporting operators: an exact-integer k-means Lloyd refinement round
over int8-grid embeddings (the iterative centroid-UPDATE step the
existing one-shot assignment queries stop short of), a source x source
duplication matrix (which crawls duplicate which — the curation view
of the pair table), and an ER blocking-quality audit (pairs
completeness + reduction ratio against exact ground truth on a
deterministic sample — the honest way to evaluate blocking at scale).

All four are new queries in a new module (VERDICT r16 task #2: keep
the driver window's 45 vintage-rotation slots intact by touching no
stamped query's file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.llm.dedup import (
    _MINHASH_SQL_CTES,
    lsh_candidate_pairs,
    minhash_bands,
    tokens_distinct,
)
from spark_lever_spark.registry import register

# ---------------------------------------------------------------------------
# cross-source entity resolution
# ---------------------------------------------------------------------------

# Two-stage match rule (blocking -> screen -> exact verify):
#   block:  LSH band collision (8 bands x 4 rows, md5-affine family)
#   screen: signature agreement >= 0.75 (24/32 positions — exact
#           multiples of 1/32, no float-boundary risk)
#   match:  same lang AND different source AND exact token-Jaccard
#           >= 7/8, tested as 8*|A∩B| >= 7*|A∪B| in pure int math.


@register(
    "er_cross_source_docs",
    oracle=f"""
WITH RECURSIVE {_MINHASH_SQL_CTES},
scr AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
meta AS (SELECT doc_id, source, lang FROM documents),
inter AS (
  SELECT s.id_a, s.id_b, CAST(count(*) AS BIGINT) AS c
  FROM scr s
  JOIN tok ta ON ta.doc_id = s.id_a
  JOIN tok tb ON tb.doc_id = s.id_b AND tb.tok = ta.tok
  GROUP BY s.id_a, s.id_b
),
edges0 AS (
  SELECT i.id_a AS u, i.id_b AS v
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.id_a
  JOIN sz sb ON sb.doc_id = i.id_b
  JOIN meta ma ON ma.doc_id = i.id_a
  JOIN meta mb ON mb.doc_id = i.id_b
  WHERE ma.source <> mb.source AND ma.lang = mb.lang
    AND 8 * i.c >= 7 * (sa.n + sb.n - i.c)
),
edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
SELECT comp.component AS entity_id,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(DISTINCT m.source) AS BIGINT) AS n_sources
FROM comp JOIN meta m ON m.doc_id = comp.node
GROUP BY comp.component
ORDER BY entity_id
""",
    category="llm_dedup",
)
def er_cross_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source fuzzy entity resolution over the document corpus:
    LSH blocking -> signature screen -> exact multi-field scoring ->
    connected-component merge -> entity table.

    A "record" is a document; records from DIFFERENT sources that
    agree on lang and whose exact distinct-token Jaccard is >= 7/8
    are the same entity (the classic linkage split: a cheap generous
    blocker, then a precise field-agreement rule on candidates only).
    Output is the merged entity table: one row per multi-record
    entity with its record and source counts.

    Scale shapes: candidates come only from the band equi-join
    (uniform md5 digests); the CHEAP metadata rule (source/lang + the
    exact size-ratio necessary condition) prunes the distinct pair
    table BEFORE the k=32 signature arrays attach (r19, guide §2.3
    shuffle fewer bytes — the screen's filters are conjunctive, so
    they commute; measured at sf0.1: 7.74M band pairs -> 0.98M
    metadata survivors -> 753,838 screened, the same verify-input
    invariant as the est-first order, rows identical); exact
    verification is candidate-grain (array_intersect on two
    ~100-token arrays per pair — JVM built-ins, no explode); the CC
    merge is the O(log n) large/small-star loop. Nothing is ever
    all-pairs. Reference analog: cogroup/join + distinct surface,
    PairRDDFunctions.scala:491-649."""
    from spark_lever_spark.llm.graph import connected_components

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    rel: list = []
    # Bare distinct band pairs — signatures deliberately NOT attached
    # yet (the whole point of the r19 reorder); the sig persist joins
    # the release list exactly as in lsh_candidate_pairs.
    sig, banded = minhash_bands(docs, k=32, bands=8)
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    rel.append(sig)
    ba, bb = banded.alias("a"), banded.alias("b")
    pairs = (
        ba.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    # Tokenize the corpus ONCE and cache it: the tokenized base feeds
    # the metadata screen sides AND both token-array attach sides
    # (optimization r18, guide §5).
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        tokens_distinct(F.col("text")).alias("toks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Metadata pre-filter BEFORE the token arrays attach (optimization
    # r18, guide §2.3 shuffle fewer bytes / §1.2 per-task work): the
    # old plan attached two ~100-token arrays to every screened pair
    # and only then applied the source/lang rule and the exact-Jaccard
    # verify — the array attach and the per-pair array_intersect were
    # the query's hottest stage. The cheap joins below carry only
    # (source, lang, |toks|); besides the source/lang rule they apply
    # an exact NECESSARY condition of the match rule: with
    # c <= min(na, nb),  8c >= 7(na + nb - c)  ⟺  15c >= 7(na + nb)
    # implies  8·min(na, nb) >= 7·max(na, nb),  so a pair failing the
    # size-ratio test can never pass the verify — dropping it early
    # changes nothing. Survivors alone pay the array attach; the final
    # predicate is unchanged (na = |ta|, nb = |tb| by construction).
    meta_a = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("lang").alias("lang_a"),
        F.size("toks").cast("long").alias("na"),
    )
    meta_b = base.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"),
        F.size("toks").cast("long").alias("nb"),
    )
    cand_meta = (
        pairs.join(meta_a, "id_a")
        .join(meta_b, "id_b")
        .filter(
            (F.col("src_a") != F.col("src_b"))
            & (F.col("lang_a") == F.col("lang_b"))
            & (
                8 * F.least("na", "nb")
                >= 7 * F.greatest("na", "nb")
            )
        )
        .select("id_a", "id_b", "na", "nb")
    )
    # k=32 signature screen, attached only to the metadata survivors
    # (7.9x fewer array-carrying rows at sf0.1). The expression is
    # lsh_candidate_pairs' est_jaccard verbatim, so the survivor set
    # is bit-identical to the old est-first order.
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ).cast("double") / F.lit(32.0)
    cand = (
        cand_meta.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.round(est, 4) >= 0.75)
        .select("id_a", "id_b", "na", "nb")
    )
    ta = base.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    c = F.size(F.array_intersect("ta", "tb")).cast("long")
    union_n = F.col("na") + F.col("nb") - c
    edges = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(8 * c >= 7 * union_n)
        .select("id_a", "id_b")
    )
    comp = connected_components(edges, src="id_a", dst="id_b")
    # connected_components eagerly materializes its edge input, so the
    # tokenized corpus cache AND the LSH signature persist are
    # released here (r19: no persisted relation survives the return).
    base.unpersist()
    for cached in rel:
        cached.unpersist()
    meta = docs.select(F.col("doc_id").alias("node"), "source")
    return (
        comp.join(meta, "node")
        .groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("entity_id")
    )


@register(
    "cross_source_duplication_matrix",
    oracle=f"""
WITH {_MINHASH_SQL_CTES},
meta AS (SELECT doc_id, source FROM documents),
p AS (
  SELECT LEAST(ma.source, mb.source) AS source_a,
         GREATEST(ma.source, mb.source) AS source_b,
         e.id_a, e.id_b
  FROM est e
  JOIN meta ma ON ma.doc_id = e.id_a
  JOIN meta mb ON mb.doc_id = e.id_b
  WHERE e.est_jaccard >= 0.8 AND ma.source <> mb.source
),
cnt AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
  FROM p GROUP BY 1, 2
),
inv AS (
  SELECT source_a, source_b,
         CAST(count(DISTINCT d) AS BIGINT) AS n_docs_involved
  FROM (SELECT source_a, source_b, id_a AS d FROM p
        UNION ALL
        SELECT source_a, source_b, id_b FROM p)
  GROUP BY 1, 2
)
SELECT cnt.source_a, cnt.source_b, cnt.n_dup_pairs, inv.n_docs_involved
FROM cnt JOIN inv USING (source_a, source_b)
ORDER BY source_a, source_b
""",
    category="llm_dedup",
)
def cross_source_duplication_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source x source duplication matrix: for every unordered pair of
    sources, how many near-dup document pairs (signature agreement
    >= 0.8) cross them and how many distinct documents are involved —
    the curation dashboard that tells you which crawls duplicate which
    before you weight or drop one. Pair grain comes straight from the
    LSH band equi-join + signature screen; the rollup is two keyed
    aggregations over a 20x20 source domain (a query constant at any
    corpus size)."""
    rel: list = []
    out = _cross_source_duplication_matrix_plan(
        spark, sf_dir, rel
    ).localCheckpoint(
        eager=True  # eager pin (<= source-domain² rows), then release
    )
    for cached in rel:
        cached.unpersist()
    return out


def _cross_source_duplication_matrix_plan(
    spark: SparkSession, sf_dir: str, releases: list
) -> DataFrame:
    """Lazy pre-checkpoint matrix pipeline — extracted so the
    plan-contract suite can pin the join shapes (kmeans-builder
    precedent, r19)."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "source")
    pairs = (
        lsh_candidate_pairs(docs, releases=releases)
        .filter(F.col("est_jaccard") >= 0.8)
        .join(
            meta.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "id_a",
            "id_b",
        )
    )
    cnt = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_dup_pairs")
    )
    inv = (
        pairs.select("source_a", "source_b", F.col("id_a").alias("d"))
        .unionByName(
            pairs.select("source_a", "source_b", F.col("id_b").alias("d"))
        )
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("d").alias("n_docs_involved"))
    )
    return cnt.join(inv, ["source_a", "source_b"]).orderBy(
        "source_a", "source_b"
    )


@register(
    "er_lsh_blocking_audit",
    oracle=f"""
WITH {_MINHASH_SQL_CTES},
samp AS (
  SELECT doc_id, source, lang FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 40
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
allp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM samp a
  JOIN samp b ON b.lang = a.lang AND a.doc_id < b.doc_id
  WHERE a.source <> b.source
),
tinter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS c
  FROM allp p
  JOIN tok ta ON ta.doc_id = p.id_a
  JOIN tok tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok
  GROUP BY 1, 2
),
truth AS (
  SELECT t.id_a, t.id_b
  FROM tinter t
  JOIN sz sa ON sa.doc_id = t.id_a
  JOIN sz sb ON sb.doc_id = t.id_b
  WHERE 8 * t.c >= 7 * (sa.n + sb.n - t.c)
),
blocked AS (
  SELECT e.id_a, e.id_b
  FROM est e
  JOIN samp a ON a.doc_id = e.id_a
  JOIN samp b ON b.doc_id = e.id_b
  WHERE e.est_jaccard >= 0.75 AND a.source <> b.source AND a.lang = b.lang
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM allp) AS n_possible_pairs,
  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
  (SELECT CAST(count(*) AS BIGINT) FROM blocked) AS n_blocked_pairs,
  (SELECT CAST(count(*) AS BIGINT)
   FROM truth t JOIN blocked k
     ON k.id_a = t.id_a AND k.id_b = t.id_b) AS n_found_pairs
""",
    category="llm_dedup",
)
def er_lsh_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the ER pipeline above: on a
    deterministic FIXED-SIZE sample (the K=40 docs first in
    md5(doc_id) hash order — a seedless uniform draw both engines can
    replay), compare the LSH-block + signature-screen candidate set
    against EXACT ground truth (all cross-source same-lang sample
    pairs with token-Jaccard >= 7/8). The counts give pairs
    completeness (n_found / n_true — what blocking misses) and
    reduction ratio (1 - n_blocked / n_possible — what blocking
    saves). Sampling is the only honest way to measure this at corpus
    scale: ground truth is quadratic. Fixed-SIZE, not fixed-rate
    (VERDICT r17 task #4): a rate sample's all-pairs set grows
    quadratically with the corpus — at 100x data the audit would do
    10,000x the truth-side work — while hash-ordered top-K keeps the
    audit O(K^2) at any scale (the K-row selection is a TakeOrdered,
    never a global sort materialization)."""
    rel: list = []
    out = _er_lsh_blocking_audit_plan(spark, sf_dir, rel).localCheckpoint(
        eager=True  # eager pin (1 row), then release the LSH sig persist
    )
    for cached in rel:
        cached.unpersist()
    return out


def _er_lsh_blocking_audit_plan(
    spark: SparkSession, sf_dir: str, releases: list
) -> DataFrame:
    """Lazy pre-checkpoint audit pipeline — extracted so the
    plan-contract suite can pin the join shapes (the registered query
    returns an eagerly pinned 1-row result with truncated lineage —
    the kmeans-builder precedent, r19)."""
    docs = load_table(spark, sf_dir, "documents")
    samp = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            tokens_distinct(F.col("text")).alias("toks"),
        )
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(40)
        # K rows feed five consumers (both pair sides, the semi-join
        # filters, the count) — eager-materialize so the corpus-wide
        # TakeOrdered runs once, not per consumer.
        .localCheckpoint(eager=True)
    )
    a = samp.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("sa"),
        F.col("lang").alias("la"),
        F.col("toks").alias("ta"),
    )
    b = samp.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("sb"),
        F.col("lang").alias("lb"),
        F.col("toks").alias("tb"),
    )
    allp = a.join(
        b,
        (F.col("lb") == F.col("la")) & (F.col("id_a") < F.col("id_b")),
    ).filter(F.col("sa") != F.col("sb"))
    c = F.size(F.array_intersect("ta", "tb")).cast("long")
    union_n = F.size("ta").cast("long") + F.size("tb").cast("long") - c
    truth = allp.filter(8 * c >= 7 * union_n).select("id_a", "id_b")
    samp_ids = samp.select("doc_id")
    blocked = (
        lsh_candidate_pairs(docs, releases=releases)
        .filter(F.col("est_jaccard") >= 0.75)
        .join(samp_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(samp_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .join(a.select("id_a", "sa", "la"), "id_a")
        .join(b.select("id_b", "sb", "lb"), "id_b")
        .filter((F.col("sa") != F.col("sb")) & (F.col("la") == F.col("lb")))
        .select("id_a", "id_b")
    )
    found = truth.join(blocked, ["id_a", "id_b"], "left_semi")
    return (
        samp.agg(F.count("*").alias("n_sample_docs"))
        .crossJoin(allp.agg(F.count("*").alias("n_possible_pairs")))
        .crossJoin(truth.agg(F.count("*").alias("n_true_pairs")))
        .crossJoin(blocked.agg(F.count("*").alias("n_blocked_pairs")))
        .crossJoin(found.agg(F.count("*").alias("n_found_pairs")))
    )


# ---------------------------------------------------------------------------
# k-means Lloyd refinement (assignment -> centroid update -> re-assignment)
# ---------------------------------------------------------------------------


@register(
    "kmeans_lloyd_refine_embeddings",
    oracle="""
WITH
sc AS (
  SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     v -> abs(v)))) / 127.0 AS s
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v / sc.s + 0.5)
                                  AS BIGINT)) AS qv
  FROM embeddings, sc
),
c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
d1 AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM q, c0 c
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
sums AS (
  SELECT a1.cid, t.i AS d,
         CAST(SUM(q.qv[CAST(t.i AS INT)]) AS BIGINT) AS s
  FROM a1 JOIN q USING (vec_id),
       LATERAL unnest(range(1, len(q.qv) + 1)) AS t(i)
  GROUP BY a1.cid, t.i
),
c1 AS (
  SELECT cid, list(s ORDER BY d) AS sv, CAST(SUM(s * s) AS BIGINT) AS ss
  FROM sums GROUP BY cid
),
cn AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a1 GROUP BY cid),
d2 AS (
  SELECT q.vec_id, c.cid,
         CAST(c.ss - 2 * cn.n *
              CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                   i -> q.qv[CAST(i AS INT)] * c.sv[CAST(i AS INT)]))
                   AS BIGINT)
              AS DOUBLE) / CAST(cn.n * cn.n AS DOUBLE) AS f
  FROM q, c1 c JOIN cn ON cn.cid = c.cid
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY f, cid) AS rn
    FROM d2) WHERE rn = 1
),
mv AS (
  SELECT a2.cid, CAST(count(*) AS BIGINT) AS n_moved_in
  FROM a1 JOIN a2 USING (vec_id)
  WHERE a1.cid <> a2.cid GROUP BY a2.cid
),
n1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_iter1 FROM a1 GROUP BY cid),
n2 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_iter2 FROM a2 GROUP BY cid)
SELECT CAST(COALESCE(n1.cid, n2.cid) AS BIGINT) AS cid,
       COALESCE(n1.n_iter1, 0) AS n_iter1,
       COALESCE(n2.n_iter2, 0) AS n_iter2,
       COALESCE(mv.n_moved_in, 0) AS n_moved_in
FROM n1 FULL JOIN n2 ON n2.cid = n1.cid
LEFT JOIN mv ON mv.cid = COALESCE(n1.cid, n2.cid)
ORDER BY cid
""",
    category="llm_similarity",
)
def kmeans_lloyd_refine_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One full k-means Lloyd REFINEMENT round (k = 8): assign ->
    recompute centroids -> re-assign, reporting per-cluster sizes
    before/after and how many vectors moved in. This is the iterative
    step the existing one-shot queries stop short of
    (kmeans_assign_embeddings = a single assignment against fixed
    centroids; kmeans_inertia_elbow = the k-selection curve), and the
    loop body an IVF index build runs to convergence.

    Exactness across engines: embeddings live on the shared global
    int8 grid (one absmax/127 scale — same discipline as
    kmeans_inertia_elbow), so iteration-1 distances are exact int64.
    Updated centroids are kept as integer (sum-vector, count) pairs —
    never divided into float means — and iteration-2 ranks by
      f(c) = (|S_c|^2 - 2 n_c <v, S_c>) / n_c^2
    whose numerator is an exact int64 (< 2^53, so the single double
    division is identically rounded in both engines); the dropped
    |v|^2 term is constant per vector and cannot change the argmin.
    Ties break to the lower centroid id.

    Scale shapes: the k-row centroid stats are broadcast; assignment
    is a map-side probe of k = 8 rows per vector; the centroid update
    is one posexplode + (cid, dim)-keyed sum — dimension-parallel,
    exactly how a 1000-executor Lloyd step shuffles. Per-iteration
    cost is O(N k d) map-side + O(k d) shuffle rows."""
    out, q, a1 = _kmeans_lloyd_refine_plan(spark, sf_dir)
    # k rows: eager-materialize so both caches can be released before
    # return (ADVICE r17 — un-unpersisted q/a1 otherwise accumulate
    # cached corpus-grain tables across a long session).
    out = out.localCheckpoint(eager=True)
    a1.unpersist()
    q.unpersist()
    return out


def _kmeans_lloyd_refine_plan(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the (lazy) Lloyd-refinement plan; returns ``(out, q, a1)``
    with ``q``/``a1`` persisted — callers materialize ``out`` and then
    unpersist both. Split out so plan-shape tests can pin the
    pre-checkpoint plan (the registered query returns an eagerly
    checkpointed k-row result whose lineage is truncated)."""

    emb = load_table(spark, sf_dir, "embeddings")
    from spark_lever_spark.llm.similarity import as_double

    b = emb.select("vec_id", as_double(F.col("embedding")).alias("l"))
    sc = b.agg(
        (F.max(F.array_max(F.transform("l", lambda v: F.abs(v)))) / 127.0)
        .alias("s")
    )
    q = b.join(F.broadcast(sc)).select(
        "vec_id",
        F.transform(
            "l", lambda v: F.floor(v / F.col("s") + 0.5).cast("long")
        ).alias("qv"),
    )
    q = q.persist()
    c0 = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )

    def sq_l2(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: (u - w) * (u - w)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def dot_long(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: u * w),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # argmin via min_by over struct(dist, cid) — exactly the oracle's
    # row_number ORDER BY (dist, cid) pick, but as a map-side-
    # COMBINABLE aggregation: at cluster scale the shuffle carries one
    # partial per (vec_id, partition) instead of sorting all N x k
    # probe rows through a window (round 18; the r17 version windowed).
    # a1 feeds FIVE consumers (update sums, counts, n1, mv, and a2's
    # comparison) — persist it or the broadcast probe + argmin re-run
    # per consumer (the r16 recompute-elimination class; the un-persisted
    # plan re-expanded this subtree 33x).
    a1 = (
        q.crossJoin(F.broadcast(c0))
        .select("vec_id", "cid", sq_l2("qv", "cv").alias("dist"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("dist", "cid")).alias("cid"))
        .persist()
    )
    memb = a1.join(q, "vec_id")
    sums = (
        memb.select("cid", F.posexplode("qv").alias("d", "val"))
        .groupBy("cid", "d")
        .agg(F.sum("val").alias("s"))
    )
    cvecs = sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "s"))),
            lambda t: t["s"],
        ).alias("sv")
    )
    counts = a1.groupBy("cid").agg(F.count("*").alias("n"))
    c1 = (
        cvecs.join(counts, "cid")
        .select(
            "cid",
            "sv",
            "n",
            F.aggregate(
                F.transform("sv", lambda s: s * s),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("ss"),
        )
    )
    f = (
        F.col("ss") - 2 * F.col("n") * dot_long("qv", "sv")
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    a2 = (
        q.crossJoin(F.broadcast(c1))
        .select("vec_id", "cid", f.alias("f"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("f", "cid")).alias("cid"))
    )
    n1 = a1.groupBy("cid").agg(F.count("*").alias("n_iter1"))
    n2 = a2.groupBy("cid").agg(F.count("*").alias("n_iter2"))
    mv = (
        a1.alias("x")
        .join(a2.alias("y"), "vec_id")
        .filter(F.col("x.cid") != F.col("y.cid"))
        .groupBy(F.col("y.cid").alias("cid"))
        .agg(F.count("*").alias("n_moved_in"))
    )
    out = (
        n1.join(n2, "cid", "full")
        .join(mv, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.coalesce("n_iter1", F.lit(0)).alias("n_iter1"),
            F.coalesce("n_iter2", F.lit(0)).alias("n_iter2"),
            F.coalesce("n_moved_in", F.lit(0)).alias("n_moved_in"),
        )
        .orderBy("cid")
    )
    return out, q, a1
