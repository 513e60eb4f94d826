"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; LSH-bucketed search is
the scale path (candidate set shrinks by ~bands/2^bits, verified for
recall in tests/test_llm_ann.py). Dot products run JVM-side via
higher-order array functions (zip_with + aggregate) in double
precision — no Python in the hot path; a vectorized pandas-UDF variant
exists in tests for comparison.

Scale notes (100 TB / billions of vectors):
- top-k against a single query broadcasts the query vector (literal) —
  the scan is embarrassingly parallel, the only shuffle is the final
  TakeOrdered over k rows per partition.
- similarity *join* prefilters by a blocking key (label here; LSH
  bucket in the hashed variant) so the pair count stays subquadratic.

Retrieval quality and refinement: Matryoshka prefix recall, the IVF
probe-depth recall curve, and one exact-integer k-means Lloyd round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import checkpoint, load_table, pin
from spark_lever_spark.registry import register


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (JVM-side fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


@register(
    "knn_cosine_topk",
    oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vector 0 (exact ANN baseline).

    The 1-row query side is broadcast; ordering is a TakeOrdered top-k,
    not a full sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "similarity_join_blocked",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id < 150)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.8
ORDER BY id_a, id_b
""",
)
def similarity_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine similarity join with label blocking (the exact
    form of an embedding near-dup stage; LSH bucketing replaces the
    label key at scale)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 150)
        .select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cs = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cs >= 0.8)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.label").alias("label"),
            F.round(cs, 6).alias("cos_sim"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "embedding_norm_stats",
    oracle="""
SELECT label, count(*) AS n,
       round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])))), 6)
           AS avg_norm,
       round(avg(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum')
                 / len(embedding)), 6) AS avg_mean_component
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column statistics (norms, component means) per label —
    the sanity profile every embedding pipeline runs before indexing."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return (
        emb.select(
            "label",
            l2_norm(v).alias("norm"),
            (
                F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
                / F.size("embedding")
            ).alias("mean_comp"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.round(F.avg("mean_comp"), 6).alias("avg_mean_component"),
        )
        .orderBy("label")
    )


def hyperplane_signs(nbits: int, dim: int) -> list[list[float]]:
    """The deterministic +-1 hyperplane family: component i of plane j
    is +1 iff the first hex digit of md5("{j}_{i}") is even — the same
    function the DuckDB oracle evaluates in SQL.  Computed ONCE on the
    driver (nbits x dim tiny table) instead of per row: the executors
    then do pure dot products against literal arrays, which removes
    nbits x dim md5/conv/substring evaluations from every row (the
    dominant cost at any scale) without changing a single output bit.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(nbits)
    ]



@register(
    "ann_lsh_hyperplane",
    # The hyperplane family is md5-parity-derived, so the bucket
    # assignment is fully deterministic and DuckDB can recompute the
    # identical histogram (instr over the hex alphabet = the parity of
    # Spark's conv(substring(md5..)) % 2).
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
comps AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS val FROM e
),
proj AS (
  SELECT c.vec_id, p.j,
         SUM(CASE WHEN (instr('0123456789abcdef',
                              substr(md5(concat(CAST(p.j AS VARCHAR), '_',
                                                CAST(c.i AS VARCHAR))), 1, 1))
                        - 1) % 2 = 0
                  THEN c.val ELSE -c.val END) AS s
  FROM comps c, (SELECT unnest(range(16)) AS j) p
  GROUP BY c.vec_id, p.j
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
           AS bucket
  FROM proj GROUP BY vec_id
)
SELECT bucket, COUNT(*) AS n_vectors
FROM sig GROUP BY bucket
ORDER BY n_vectors DESC, bucket
""",
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH (16-bit signatures) bucket histogram.

    Hyperplane h_j component i = deterministic pseudo-random +-1 from
    md5(j,i) parity — reproducible across runs with no stored model.
    Query-side use: hash the query with the same planes, probe its
    bucket (plus neighbors at hamming<=1) instead of scanning all rows.

    Sign application is a conditional negate (not a multiply) and the
    fold order is element order, so the per-plane sums are bit-identical
    to evaluating the md5 inline — the form the oracle uses and the one
    this query shipped with through round 5.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nbits = 16
    v = as_double(F.col("embedding"))

    # Fixed-dim contract (TESTDATA.md: embeddings are constant-length);
    # a LIMIT-1 probe reads one row, which stays O(1) at any scale.
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = first["d"] if first else 0
    planes = hyperplane_signs(nbits, dim)

    def plane_sign(j: int) -> Column:
        signs = F.array(*[F.lit(s) for s in planes[j]])
        return F.aggregate(
            F.zip_with(v, signs, lambda x, s: F.when(s > 0, x).otherwise(-x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = emb.select(
        "vec_id",
        "label",
        F.concat(
            *[
                F.when(plane_sign(j) > 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(nbits)
            ]
        ).alias("bucket"),
    )
    return (
        sig.groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy(F.desc("n_vectors"), "bucket")
    )


@register(
    "embedding_dominant_dims",
    oracle="""
WITH comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings WHERE vec_id < 50
),
ranked AS (
  SELECT vec_id, label, CAST(dim AS INT) AS dim,
         round(x * 1000000) / 1000000 AS x,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY abs(x) DESC, dim) AS rk
  FROM comps
)
SELECT vec_id, label, CAST(rk AS INT) AS rk, dim, x
FROM ranked WHERE rk <= 3
ORDER BY vec_id, rk
""",
)
def embedding_dominant_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant dimensions per embedding: the 3 largest-|x| components
    of each vector — the interpretability probe for which axes carry a
    vector's signal (and the primitive behind sparse top-k projection
    compression). posexplode keeps the dim index; the per-vector rank
    is a WindowGroupLimit top-k, so the shuffle carries 3 rows per
    vector, not 64."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    comps = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "x"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc(F.abs("x")), "dim")
    return (
        comps.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "vec_id",
            "label",
            "rk",
            "dim",
            (F.round(F.col("x") * 1000000) / 1000000).alias("x"),
        )
        .orderBy("vec_id", "rk")
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval recall
# ---------------------------------------------------------------------------


@register(
    "matryoshka_prefix_recall",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < 20
),
pairs AS (
  SELECT q.qid, e.vec_id AS cid,
         CAST(SUM(CAST(floor(CAST(q.qe[CAST(t.i AS INT) + 1]
                             AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                  * CAST(floor(CAST(e.embedding[CAST(t.i AS INT) + 1]
                               AS DOUBLE) * 1000 + 0.5) AS BIGINT))
              AS BIGINT) AS dot_full,
         CAST(SUM(CASE WHEN t.i < 16
                  THEN CAST(floor(CAST(q.qe[CAST(t.i AS INT) + 1]
                            AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                       * CAST(floor(CAST(e.embedding[CAST(t.i AS INT)
                                    + 1] AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS dot_16
  FROM q, embeddings e, LATERAL unnest(range(len(q.qe))) AS t(i)
  WHERE e.vec_id <> q.qid
  GROUP BY 1, 2
),
rk AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot_full DESC, cid) AS r_full,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot_16 DESC, cid) AS r_16
  FROM pairs
),
hits AS (
  SELECT a.qid, CAST(count(*) AS BIGINT) AS n_overlap
  FROM rk a JOIN rk b
    ON b.qid = a.qid AND b.cid = a.cid
  WHERE a.r_full <= 10 AND b.r_16 <= 10
  GROUP BY 1
)
SELECT q.qid AS query_id, COALESCE(h.n_overlap, 0) AS overlap_at_10,
       CAST(COALESCE(h.n_overlap, 0) * 100000 AS BIGINT)
           AS recall_ppm
FROM q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY query_id
""",
)
def matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATRYOSHKA PREFIX-DIMENSION RECALL@10 — the evaluation
    behind dimension-truncated (MRL-style) retrieval: for each of
    the first 20 query vectors, rank the corpus by exact
    milli-grid dot product using ONLY the first 16 of 64
    dimensions, and report the overlap with the full-dimension
    top-10 (recall = overlap/10 in ppm). This is the measurement a
    vector-store operator runs before switching to truncated
    embeddings (¼ the memory/bandwidth — what does it cost in
    recall?); complements ann_jl_projected_topk (random projection)
    with the PREFIX projection MRL training promises.
    Exactness: components quantize to the shared milli grid
    (floor(v·1000 + 0.5)), dot products are exact int64 sums,
    ranks deterministic (dot DESC, vec_id). Scale: 20 × N exact
    scoring — the brute baseline; the IVF/LSH variants are the
    scale path (same doctrine as knn_cosine_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).selectExpr(
        "vec_id",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    qc = comp.filter(F.col("vec_id") < 20).selectExpr(
        "vec_id AS qid", "pos AS qpos", "q AS qq"
    )
    pairs = (
        F.broadcast(qc)
        .join(
            comp.selectExpr(
                "vec_id AS cid", "pos AS cpos", "q AS cq"
            ),
            (F.col("qpos") == F.col("cpos"))
            & (F.col("cid") != F.col("qid")),
        )
        .groupBy("qid", "cid")
        .agg(
            F.sum(F.col("qq") * F.col("cq")).alias("dot_full"),
            F.sum(
                F.when(
                    F.col("qpos") < 16, F.col("qq") * F.col("cq")
                ).otherwise(0)
            ).alias("dot_16"),
        )
    )
    wq_full = Window.partitionBy("qid").orderBy(
        F.desc("dot_full"), "cid"
    )
    wq_16 = Window.partitionBy("qid").orderBy(F.desc("dot_16"), "cid")
    rk = pairs.select(
        "qid",
        "cid",
        F.row_number().over(wq_full).alias("r_full"),
        F.row_number().over(wq_16).alias("r_16"),
    )
    hits = (
        rk.filter((F.col("r_full") <= 10) & (F.col("r_16") <= 10))
        .groupBy("qid")
        .agg(F.count("*").alias("n_overlap"))
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        q.join(hits, q["query_id"] == hits["qid"], "left")
        .selectExpr(
            "query_id",
            "COALESCE(n_overlap, 0) AS overlap_at_10",
            "CAST(COALESCE(n_overlap, 0) * 100000 AS BIGINT)"
            " AS recall_ppm",
        )
        .orderBy("query_id")
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
    # k rows: eager-materialized, so the query's two pins outlive no
    # consumer
    return checkpoint(_kmeans_lloyd_refine_plan(spark, sf_dir))


def _kmeans_lloyd_refine_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the (lazy) Lloyd-refinement plan over two pins. Split out
    so plan-shape tests can read the pre-checkpoint plan (the registered
    query returns an eagerly checkpointed k-row result whose lineage is
    truncated)."""

    emb = load_table(spark, sf_dir, "embeddings")

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
    q = pin(q)
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
    a1 = pin(
        q.crossJoin(F.broadcast(c0))
        .select("vec_id", "cid", sq_l2("qv", "cv").alias("dist"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("dist", "cid")).alias("cid"))
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
    return out


# ---------------------------------------------------------------------------
# IVF probe-depth recall curve
# ---------------------------------------------------------------------------

_NPROBES = (1, 2, 4, 8)
_N_QUERIES = 20
_TOPK = 10


@register(
    "ann_ivf_nprobe_recall_curve",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
cents AS (
  SELECT label AS cell, list(m ORDER BY i) AS centroid
  FROM (
    SELECT label, i, AVG(val) AS m
    FROM (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS val FROM e)
    GROUP BY label, i
  )
  GROUP BY label
),
cell_rank AS (
  SELECT q.qid, c.cell,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY ROUND(list_cosine_similarity(c.centroid, q.qv), 9) DESC,
                    c.cell) AS rk
  FROM cents c, qs q
),
brute AS (
  SELECT qid, vec_id, label FROM (
    SELECT q.qid, e.vec_id, e.label,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 9) DESC,
                      e.vec_id) AS rn
    FROM e, qs q WHERE e.vec_id <> q.qid
  ) WHERE rn <= {_TOPK}
),
joined AS (
  SELECT b.qid, b.vec_id, cr.rk AS cell_rk
  FROM brute b JOIN cell_rank cr ON cr.qid = b.qid AND cr.cell = b.label
)
SELECT CAST(p.p AS BIGINT) AS nprobe,
       CAST((SELECT count(*) FROM qs) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN j.cell_rk <= p.p THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       round(sum(CASE WHEN j.cell_rk <= p.p THEN 1 ELSE 0 END)
             / ({_TOPK}.0 * (SELECT count(*) FROM qs)), 4) AS recall_at_10
FROM joined j, (SELECT unnest([{", ".join(str(p) for p in _NPROBES)}]) AS p) p
GROUP BY p.p
ORDER BY nprobe
""",
)
def ann_ivf_nprobe_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of IVF search as a function of probe depth, over a
    fixed panel of 20 query vectors (vec_id < 20).

    In-cell search is exact, so a brute-force top-10 member is
    retrieved at probe depth p iff its cell ranks <= p among the
    query's nearest centroids — one brute pass plus one centroid
    ranking yields the whole (nprobe -> recall) curve with no
    per-depth re-execution. Both rankings use the round(sim, 9) +
    id/cell tiebreak discipline of ann_ivf so the selections are
    stable across engines.

    Scale shapes: the centroid table (cells x dim) and the query panel
    (fixed Q rows) are both broadcast; the brute ground-truth pass is
    the audit's cost — O(Q x N) map-side with a per-query top-k
    (WindowGroupLimit keeps the shuffle at k rows per query, never the
    full Q x N cross) — and Q is FIXED, so the audit stays linear in
    the corpus at any scale. The production index answers queries from
    the probed cells only; this operator measures exactly what that
    truncation costs."""
    from pyspark.sql.window import Window

    from spark_lever_spark.llm.embeddings import cell_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    qs = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cents = cell_centroids(emb)
    wq = Window.partitionBy("qid")
    cell_rank = (
        cents.crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "cell",
            F.row_number()
            .over(
                wq.orderBy(
                    F.desc(F.round(cosine(F.col("centroid"), F.col("qv")), 9)),
                    "cell",
                )
            )
            .alias("rk"),
        )
    )
    brute = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.row_number()
            .over(
                wq.orderBy(
                    F.desc(F.round(cosine(F.col("v"), F.col("qv")), 9)),
                    "vec_id",
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= _TOPK)
    )
    joined = (
        brute.alias("b")
        .join(
            cell_rank.alias("cr"),
            (F.col("b.qid") == F.col("cr.qid"))
            & (F.col("b.label") == F.col("cr.cell")),
        )
        .select(
            F.col("b.qid").alias("qid"),
            "vec_id",
            F.col("cr.rk").alias("cell_rk"),
        )
    )
    nq = qs.agg(F.count("*").alias("n_queries"))
    probes = F.explode(
        F.array(*[F.lit(p) for p in _NPROBES])
    ).alias("nprobe")
    return (
        joined.select("qid", "cell_rk", probes)
        .groupBy("nprobe")
        .agg(
            F.sum((F.col("cell_rk") <= F.col("nprobe")).cast("long")).alias(
                "n_found"
            )
        )
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            F.col("n_queries").cast("long").alias("n_queries"),
            "n_found",
            F.round(
                F.col("n_found") / (float(_TOPK) * F.col("n_queries")), 4
            ).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )
