"""Embedding-column operators: near-dup by cosine, IVF-style ANN.

Completes the LLM-pipeline dedup/similarity family (SURVEY.md §7 P5):
- `dedup_embedding_cosine`: the embedding analog of MinHash dedup —
  a blocked all-pairs cosine join marks duplicates and elects the
  lowest-id member as canonical. Blocking key here is `label` (stand-in
  for an LSH bucket / IVF cell at 100 TB: replace the equality key,
  keep the plan).
- `ann_ivf`: inverted-file ANN — partition vectors into cells (label
  as the cell id; k-means at scale), compute cell centroids
  distributively, probe the nprobe nearest cells, exact-search only
  within them. Complements `ann_lsh_hyperplane` (llm/similarity.py) as
  the second scale path next to brute-force `knn_cosine_topk`.

The synthetic embeddings are near-orthogonal random vectors (max
intra-label cosine ~0.45 at sf0.001), so the dedup threshold is set at
0.35 to exercise non-empty outputs; production near-dup would sit at
~0.95 with the identical plan.

Label-cluster quality: centroid drift, simplified silhouette,
Calinski-Harabasz.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import (
    checkpoint,
    default_parallelism,
    load_table,
    pin,
    spread_scan,
)
from spark_lever_spark.functions.exact import DEC38
from spark_lever_spark.llm.similarity import as_double, cosine
from spark_lever_spark.registry import register


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 250)
SELECT b.vec_id AS dup_id, MIN(a.vec_id) AS canonical_id
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
GROUP BY b.vec_id
ORDER BY dup_id
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: within each block, a vector is a
    duplicate of the earliest vector it matches at >= threshold; emit
    (dup_id, canonical_id). At scale: O(pairs-within-block), never
    global O(n^2) — block size is the knob, exactly like LSH banding."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 250)
        .select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cosine(F.col("a.v"), F.col("b.v")) >= 0.35)
        .groupBy(F.col("b.vec_id").alias("dup_id"))
        .agg(F.min(F.col("a.vec_id")).alias("canonical_id"))
        .orderBy("dup_id")
    )


def cell_centroids(emb: DataFrame) -> DataFrame:
    """Per-cell centroid (a cell is a ``label``), computed
    distributively: posexplode the
    vectors, average per (cell, dimension), reassemble ordered arrays.
    Two narrow shuffles on small keys; no vector ever collects to the
    driver."""
    by_dim = emb.select(
        F.col("label").alias("cell"),
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    ).groupBy("cell", "pos").agg(F.avg("x").alias("m"))
    return by_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("centroid")
    )


@register(
    "ann_ivf",
    # The cell structure is the label column, so the whole IVF search —
    # centroids, probe selection, in-cell exact top-k — is reproducible
    # in SQL; recall vs brute force additionally in tests/test_llm_ann.py.
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cents AS (
  SELECT label AS cell, list(m ORDER BY i) AS centroid
  FROM (
    SELECT label, i, AVG(val) AS m
    FROM (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS val FROM e)
    GROUP BY label, i
  )
  GROUP BY label
),
probed AS (
  SELECT cell FROM cents, q
  ORDER BY ROUND(list_cosine_similarity(centroid, qv), 9) DESC, cell
  LIMIT 2
)
SELECT vec_id, label, ROUND(list_cosine_similarity(v, qv), 6) AS cos_sim
FROM e, q
WHERE vec_id <> 0 AND label IN (SELECT cell FROM probed)
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN for query vector 0: probe the 2 nearest of 10 cells,
    exact top-10 within them. The centroid table is tiny (cells x dim)
    and broadcast both times; only the probed cells' vectors are
    scanned — at 100 TB that is the difference between reading 2/nlist
    of the data and all of it."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = cell_centroids(emb)
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("cell", cosine(F.col("centroid"), F.col("qv")).alias("sim"))
        # probe choice rounded to 9 dp + cell tiebreak so the selection
        # is stable under last-ulp float-sum differences across engines
        .orderBy(F.desc(F.round(F.col("sim"), 9)), "cell")
        .limit(2)
        .select("cell")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probed), emb["label"] == F.col("cell"))
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
    "embedding_quantize_int8",
    oracle="""
WITH b AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS l
  FROM embeddings
),
s AS (
  SELECT vec_id, l,
         list_max(list_transform(l, v -> abs(v))) / 127.0 AS scale
  FROM b
),
q AS (
  SELECT vec_id, l, scale,
         CASE WHEN scale = 0 THEN list_transform(l, v -> 0)
              ELSE list_transform(l, v -> CAST(floor(v / scale + 0.5) AS INT))
         END AS qv
  FROM s
)
SELECT vec_id, scale,
       array_to_string(list_transform(qv, v -> CAST(v AS VARCHAR)), ',') AS q,
       CASE WHEN scale = 0 THEN 0.0
            ELSE list_max(list_transform(range(1, len(l) + 1),
                 i -> abs(qv[CAST(i AS INT)] * scale - l[CAST(i AS INT)])))
       END AS max_abs_err,
       CASE WHEN scale = 0 THEN TRUE
            ELSE list_max(list_transform(range(1, len(l) + 1),
                 i -> abs(qv[CAST(i AS INT)] * scale - l[CAST(i AS INT)])))
                 <= scale * 0.5
       END AS within_bound
FROM q ORDER BY vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (absmax
    scaling, the layout a 100 TB vector store actually persists — 4x
    smaller than float32, dequantization error bounded by scale/2).
    Rounding is the explicit ``floor(x/scale + 0.5)`` formula so both
    engines execute identical IEEE double ops — SQL round() half-away
    semantics differ in edge representations across engines, the
    floor form cannot. Reductions are max-based (order-independent),
    so partitioning cannot perturb the result. ``scale`` is
    materialized as a column before the quantizing lambda consumes it
    (the HOF-lambda re-evaluation rule — see _token_ngrams in
    curation.py). Map-only: no shuffle but the presentation sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", as_double(F.col("embedding")).alias("l"))
    s = b.select(
        "vec_id",
        "l",
        (
            F.array_max(F.transform("l", lambda v: F.abs(v))) / F.lit(127.0)
        ).alias("scale"),
    )
    sc = F.col("scale")
    q = s.select(
        "vec_id",
        "l",
        "scale",
        F.when(
            sc == 0, F.transform("l", lambda v: F.lit(0))
        )
        .otherwise(
            F.transform(
                "l", lambda v: F.floor(v / sc + F.lit(0.5)).cast("int")
            )
        )
        .alias("qv"),
    )
    err = F.array_max(
        F.zip_with("qv", "l", lambda a, b_: F.abs(a * sc - b_))
    )
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(
            ",", F.transform("qv", lambda v: v.cast("string"))
        ).alias("q"),
        F.when(sc == 0, F.lit(0.0)).otherwise(err).alias("max_abs_err"),
        F.when(sc == 0, F.lit(True)).otherwise(err <= sc * 0.5).alias(
            "within_bound"
        ),
    ).orderBy("vec_id")


_JL_K = 16   # projected dimensions
_JL_D = 64   # source embedding dimensions


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix from md5 parity — the same
    engine-portable hash family as the LSH hyperplanes, precomputed
    driver-side (the plane-precompute optimization) while the oracle
    derives identical signs from the md5 formula inline."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{r}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for j in range(_JL_D)
        ]
        for r in range(_JL_K)
    ]


def jl_project_ints(emb: DataFrame) -> DataFrame:
    """Exact-integer JL projection of an (vec_id, embedding) frame:
    quantize each coordinate to micro-units, then apply the ±1 sign
    matrix — returns (vec_id, q = Σxi², y0..y15 = the 16 projected
    coordinates), ALL exact int64, so every downstream consumer
    (norm-ratio check, projected-space search) inherits
    order-independent cross-engine parity. Map-only HOF arithmetic."""
    signs = _jl_signs()
    xi = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("xi"),
    )

    def int_sum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda a, b: a + b)

    ys = [
        int_sum(
            F.zip_with(
                "xi",
                F.array(*[F.lit(s).cast("long") for s in signs[r]]),
                lambda a, b: a * b,
            )
        ).alias(f"y{r}")
        for r in range(_JL_K)
    ]
    return xi.select(
        "vec_id",
        int_sum(F.transform("xi", lambda v: v * v)).alias("q"),
        *ys,
    )


@register(
    "embedding_jl_projection",
    oracle=f"""
WITH xi AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS xi
  FROM embeddings WHERE vec_id < 500
),
dims AS (
  SELECT r.r, j.j,
         CASE WHEN ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                                       || CAST(j.j AS VARCHAR)), 1, 1))::INT
                   % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range({_JL_K})) AS r) r
  CROSS JOIN (SELECT unnest(range({_JL_D})) AS j) j
),
yr AS (
  SELECT x.vec_id, d.r,
         CAST(SUM(d.s * x.xi[CAST(d.j + 1 AS INT)]) AS BIGINT) AS y
  FROM xi x CROSS JOIN dims d
  GROUP BY x.vec_id, d.r
),
p AS (
  SELECT vec_id, CAST(SUM(y * y) AS BIGINT) AS p,
         CAST(MAX(CASE WHEN r = 0 THEN y END) AS BIGINT) AS y0
  FROM yr GROUP BY vec_id
),
q AS (
  SELECT vec_id,
         CAST(list_reduce(list_transform(xi, v -> v * v),
                          (a, b) -> a + b) AS BIGINT) AS q
  FROM xi
)
SELECT p.vec_id,
       round(CAST(p.p AS DOUBLE) / CAST({_JL_K} * q.q AS DOUBLE) * 1000000)
         / 1000000 AS norm_ratio,
       round(CAST(p.y0 AS DOUBLE) / 1000000 / 4 * 1000000) / 1000000 AS y0
FROM p JOIN q ON q.vec_id = p.vec_id
ORDER BY p.vec_id
""",
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64d -> 16d with a
    deterministic ±1 sign matrix (Achlioptas '01's database-friendly
    JL) — the dimensionality-reduction sketch that makes downstream
    ANN/clustering 4x cheaper while preserving norms in expectation.
    The whole operator is MAP-ONLY higher-order-function arithmetic,
    and parity is made order-independent by quantizing to exact
    integer micro-units first: every projected coordinate is an exact
    int64 sum, so engines may sum in any order and still agree
    bit-for-bit — the integer-domain trick that sidesteps float
    accumulation-order entirely (functions/exact.py doctrine applied
    to linear algebra). Output: per vector, the norm-preservation
    ratio ||y||^2/||x||^2 (JL says ~1) and the first projected
    coordinate."""
    proj = jl_project_ints(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    )
    p = sum(F.col(f"y{r}") * F.col(f"y{r}") for r in range(_JL_K))
    return proj.select(
        "vec_id",
        (
            F.round(
                p.cast("double") / (F.lit(_JL_K) * F.col("q")).cast("double")
                * 1000000
            )
            / 1000000
        ).alias("norm_ratio"),
        (
            F.round(F.col("y0").cast("double") / 1000000 / 4 * 1000000)
            / 1000000
        ).alias("y0"),
    ).orderBy("vec_id")


@register(
    "ann_jl_projected_topk",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                  AS BIGINT)) AS xi
  FROM embeddings WHERE vec_id < 500
),
dims AS (
  SELECT r.r, j.j,
         CASE WHEN ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                                       || CAST(j.j AS VARCHAR)), 1, 1))::INT
                   % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range({_JL_K})) AS r) r
  CROSS JOIN (SELECT unnest(range({_JL_D})) AS j) j
),
yr AS (
  SELECT b.vec_id, d.r,
         CAST(SUM(d.s * b.xi[CAST(d.j + 1 AS INT)]) AS BIGINT) AS y
  FROM base b CROSS JOIN dims d
  GROUP BY b.vec_id, d.r
),
p AS (SELECT vec_id, CAST(SUM(y * y) AS BIGINT) AS pp FROM yr GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
),
dots AS (
  SELECT pr.ia, pr.ib, CAST(SUM(ya.y * yb.y) AS BIGINT) AS dot
  FROM pairs pr
  JOIN yr ya ON ya.vec_id = pr.ia
  JOIN yr yb ON yb.vec_id = pr.ib AND yb.r = ya.r
  GROUP BY pr.ia, pr.ib
),
scored AS (
  SELECT d.ia, d.ib,
         round(CASE WHEN d.dot >= 0 THEN 1 ELSE -1 END
               * CAST(d.dot AS DOUBLE) * CAST(d.dot AS DOUBLE)
               / (CAST(pa.pp AS DOUBLE) * CAST(pb.pp AS DOUBLE))
               * 1000000) / 1000000 AS score
  FROM dots d
  JOIN p pa ON pa.vec_id = d.ia
  JOIN p pb ON pb.vec_id = d.ib
)
SELECT ia AS vec_a, ib AS vec_b, score
FROM scored ORDER BY score DESC, vec_a, vec_b LIMIT 20
""",
)
def ann_jl_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search IN THE JL-PROJECTED SPACE — the composition
    that makes the projection operator useful: candidate pairs are
    generated per label block (the blocked-join discipline), but the
    similarity itself is computed on the 16-d integer projections, a
    4x cheaper dot product per pair than raw 64-d floats — at 100 TB
    the projected vectors are ALSO what you persist and shuffle.
    Ranking uses the sqrt-free signed cosine-square (sign(dot)·dot² /
    (‖a‖²‖b‖²)) — monotone in cosine, avoids libm sqrt; dot and the
    squared norms stay exact int64 (dot² would overflow, so the square
    happens after an explicit double cast, same op order both
    engines). Top-20 via TakeOrdered."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    # long-format projection (explode + signs-table join + re-agg)
    # instead of 16 wide HOF expressions: the relational form is what
    # scales (projections shuffle as (vec, r, y) rows) AND what a
    # 1 GB-heap vanilla driver session can plan — the wide-expression
    # form OOMed codegen under the harness's default session.
    signs = spark.createDataFrame(
        [
            (r, j, s)
            for r, row in enumerate(_jl_signs())
            for j, s in enumerate(row)
        ],
        "r int, j int, s long",
    )
    xi_long = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000).cast("long"),
            )
        ).alias("j", "x"),
    )
    yr = (
        xi_long.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "r")
        .agg(F.sum(F.col("s") * F.col("x")).alias("y"))
    )
    pp = yr.groupBy("vec_id").agg(F.sum(F.col("y") * F.col("y")).alias("pp"))
    lbl = emb.select("vec_id", "label")
    la = lbl.select(F.col("label").alias("l"), F.col("vec_id").alias("ia"))
    lb = lbl.select(F.col("label").alias("l"), F.col("vec_id").alias("ib"))
    pairs = la.join(lb, "l").filter(F.col("ia") < F.col("ib")).select("ia", "ib")
    ya = yr.select(F.col("vec_id").alias("ia"), "r", F.col("y").alias("ya"))
    yb = yr.select(F.col("vec_id").alias("ib"), "r", F.col("y").alias("yb"))
    dots = (
        pairs.join(ya, "ia")
        .join(yb, ["ib", "r"])
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("ya") * F.col("yb")).alias("dot"))
    )
    pa = pp.select(F.col("vec_id").alias("ia"), F.col("pp").alias("pa"))
    pb = pp.select(F.col("vec_id").alias("ib"), F.col("pp").alias("pb"))
    scored = dots.join(pa, "ia").join(pb, "ib")
    score = (
        F.when(F.col("dot") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.col("dot").cast("double")
        * F.col("dot").cast("double")
        / (F.col("pa").cast("double") * F.col("pb").cast("double"))
    )
    return (
        scored.select(
            F.col("ia").alias("vec_a"),
            F.col("ib").alias("vec_b"),
            (F.round(score * 1000000) / 1000000).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_a", "vec_b")
        .limit(20)
    )


@register(
    "ann_int8_exact_topk",
    oracle="""
WITH b AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS l
  FROM embeddings
),
s AS (
  SELECT vec_id, label, l,
         list_max(list_transform(l, v -> abs(v))) / 127.0 AS scale
  FROM b
),
q AS (
  SELECT vec_id, label,
         CASE WHEN scale = 0 THEN list_transform(l, v -> CAST(0 AS BIGINT))
              ELSE list_transform(l, v -> CAST(floor(v / scale + 0.5)
                                               AS BIGINT))
         END AS qv
  FROM s
),
qq AS (SELECT qv AS query_qv FROM q WHERE vec_id = 0),
dots AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[CAST(i AS INT)] * query_qv[CAST(i AS INT)]))
              AS BIGINT) AS dot_q
  FROM q, qq WHERE vec_id <> 0
)
SELECT vec_id, label, dot_q FROM dots
ORDER BY dot_q DESC, vec_id LIMIT 10
""",
)
def ann_int8_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over INT8-quantized embeddings — the layout a
    production vector store actually serves from (4x smaller, SIMD
    int8 dot products). Quantization is the absmax/127 floor(x/s+0.5)
    formula shared with embedding_quantize_int8; the ranking key is
    the RAW integer dot product of quantized vectors — exact int64
    (|q| <= 127, 64 dims -> |dot| <= ~1e6), so unlike the float
    cosine baseline there is NOTHING to round: both engines rank
    identical integers. Completes the retrieval family: float brute
    force (knn_cosine_topk), LSH, IVF, JL-projected, and now the
    quantized serving path. Scale shape: query vector broadcasts,
    corpus pass is map-side, TakeOrdered merges per-partition top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("l"))
    s = b.withColumn(
        "scale",
        F.array_max(F.transform("l", lambda v: F.abs(v))) / F.lit(127.0),
    )
    qv = F.when(
        F.col("scale") == 0,
        F.transform("l", lambda v: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            "l",
            lambda v: F.floor(v / F.col("scale") + F.lit(0.5)).cast("long"),
        )
    )
    q = s.select("vec_id", "label", qv.alias("qv"))
    query = q.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("query_qv")
    )
    dots = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with("qv", "query_qv", lambda a, bb: a * bb),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot_q"),
        )
    )
    return dots.orderBy(F.desc("dot_q"), "vec_id").limit(10)


@register(
    "embedding_decontaminate_int8",
    oracle="""
WITH b AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS l
  FROM embeddings
),
s AS (
  SELECT vec_id, l,
         list_max(list_transform(l, v -> abs(v))) / 127.0 AS scale
  FROM b
),
q AS (
  SELECT vec_id,
         CASE WHEN scale = 0 THEN list_transform(l, v -> CAST(0 AS BIGINT))
              ELSE list_transform(l, v -> CAST(floor(v / scale + 0.5)
                                               AS BIGINT))
         END AS qv
  FROM s
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS n2
  FROM q
),
bench AS (SELECT vec_id AS bench_id, qv AS bqv, n2 AS bn2 FROM n
          WHERE vec_id % 50 = 0 AND vec_id <= 2000),
pairs AS (
  SELECT c.vec_id, b.bench_id,
         CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
              i -> c.qv[CAST(i AS INT)] * b.bqv[CAST(i AS INT)]))
              AS BIGINT) AS dot_q,
         c.n2, b.bn2
  FROM n c, bench b
  WHERE NOT (c.vec_id % 50 = 0 AND c.vec_id <= 2000)
),
scored AS (
  SELECT vec_id, bench_id, dot_q,
         CAST(25 * dot_q * abs(dot_q) AS DOUBLE) / (16 * n2 * bn2)
             AS score,
         CAST(dot_q > 0 AND 25 * dot_q * dot_q >= 16 * n2 * bn2
              AS BOOLEAN) AS contaminated,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY CAST(25 * dot_q * abs(dot_q) AS DOUBLE)
                                     / (16 * n2 * bn2) DESC,
                                     bench_id) AS rn
  FROM pairs
)
SELECT vec_id, bench_id, dot_q, score, contaminated
FROM scored WHERE rn = 1 ORDER BY vec_id
""",
)
def embedding_decontaminate_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in EMBEDDING space: every corpus
    vector scored against a bounded benchmark suite (here the fixed
    id-grid vec_id % 50 == 0, <= 2000 — decontamination benchmarks
    are small by nature, which is what makes the broadcast pass
    legal at 100 TB) on int8-quantized vectors, flagged contaminated
    when cosine >= 0.8 against ANY benchmark item — the semantic
    sibling of text_decontaminate's 8-gram blocklist for paraphrased/
    translated leakage a token match misses.

    Exactness: quantization is the shared absmax floor(x/s+0.5)
    formula; the contamination PREDICATE is pure int64
    (``25*dot^2 >= 16*|a|^2*|b|^2 AND dot > 0`` <=> cos >= 0.8 — no
    float boundary can flip a flag); the REPORTED score is one double
    division of exact ints (sign-preserving cos^2*25/16), bit-identical
    cross-engine, used only to pick the nearest benchmark item
    (argmax via min/max-struct, ties to the lower bench id). One
    map-side broadcast pass over the corpus; TakeOrdered presentation
    sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", as_double(F.col("embedding")).alias("l"))
    s = b.withColumn(
        "scale",
        F.array_max(F.transform("l", lambda v: F.abs(v))) / F.lit(127.0),
    )
    qv = F.when(
        F.col("scale") == 0,
        F.transform("l", lambda v: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            "l",
            lambda v: F.floor(v / F.col("scale") + F.lit(0.5)).cast("long"),
        )
    )
    n = s.select(
        "vec_id",
        qv.alias("qv"),
    ).withColumn(
        "n2",
        F.aggregate(
            F.transform("qv", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    is_bench = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") <= 2000)
    bench = n.filter(is_bench).select(
        F.col("vec_id").alias("bench_id"),
        F.col("qv").alias("bqv"),
        F.col("n2").alias("bn2"),
    )
    corpus = n.filter(~is_bench)
    dot = F.aggregate(
        F.zip_with("qv", "bqv", lambda a, bb: a * bb),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        dot.alias("dot_q"),
        "n2",
        "bn2",
    )
    score = (25 * F.col("dot_q") * F.abs(F.col("dot_q"))).cast("double") / (
        16 * F.col("n2") * F.col("bn2")
    )
    contaminated = (F.col("dot_q") > 0) & (
        25 * F.col("dot_q") * F.col("dot_q")
        >= 16 * F.col("n2") * F.col("bn2")
    )
    best = (
        pairs.select(
            "vec_id",
            F.struct(
                score.alias("score"),
                (-F.col("bench_id")).alias("neg_bid"),
                F.col("bench_id").alias("bench_id"),
                F.col("dot_q").alias("dot_q"),
                contaminated.alias("contaminated"),
            ).alias("k"),
        )
        .groupBy("vec_id")
        .agg(F.max("k").alias("k"))
    )
    return best.select(
        "vec_id",
        F.col("k.bench_id").alias("bench_id"),
        F.col("k.dot_q").alias("dot_q"),
        F.col("k.score").alias("score"),
        F.col("k.contaminated").alias("contaminated"),
    ).orderBy("vec_id")


@register(
    "kmeans_assign_embeddings",
    oracle="""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
p AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= 8
),
s AS (
  SELECT p.vec_id, c.cid,
         list_inner_product(c.cv, c.cv)
         - 2 * list_inner_product(p.v, c.cv) AS score
  FROM p, c
),
a AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score, cid) AS rn
  FROM s
)
SELECT CAST(cid AS BIGINT) AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id,
       CAST(max(vec_id) AS BIGINT) AS max_vec_id
FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid
""",
)
def kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd ASSIGNMENT step of k-means over the embedding table
    (k = 8, centroids fixed to the first eight vectors so the step is
    deterministic): every remaining vector goes to its nearest
    centroid by squared L2, ties to the lower centroid id — the
    clustering primitive under IVF index builds (`ann_ivf`'s cell
    lists are exactly this assignment's output) and corpus
    diversity audits. Distance ranking uses the expansion
    ``|c|^2 - 2<x,c>`` (the |x|^2 term is constant per vector and
    cannot change the argmin) with both inner products summed in
    index order — the same ordered-HOF float discipline every
    similarity query here relies on, so DuckDB's list_inner_product
    replays the scores bit-for-bit. The reported per-centroid output
    is integer-only (counts + id range). Shapes: the k-row centroid
    table is broadcast; assignment is a map-side cross product with
    k = 8 (a constant), then one vec-keyed window and one
    centroid-keyed aggregation — no all-pairs anything."""
    from pyspark.sql.window import Window
    from spark_lever_spark.llm.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        as_double(F.col("embedding")).alias("cv"),
    )
    pts = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    scored = pts.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        (
            dot(F.col("cv"), F.col("cv"))
            - 2 * dot(F.col("v"), F.col("cv"))
        ).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy("score", "cid")
    assigned = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        assigned.groupBy(F.col("cid").cast("long").alias("centroid_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# Model-selection elbow and reciprocal nearest neighbors
# ---------------------------------------------------------------------------


_GLOBAL_INT8_CTES = """
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
)
"""


@register(
    "kmeans_inertia_elbow",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
c AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 16),
d AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM q, c
),
per_vec AS (
  SELECT vec_id,
         min(CASE WHEN cid < 2 THEN dist END) AS m2,
         min(CASE WHEN cid < 4 THEN dist END) AS m4,
         min(CASE WHEN cid < 8 THEN dist END) AS m8,
         min(dist) AS m16
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(SUM(m2) AS BIGINT) AS i2, CAST(SUM(m4) AS BIGINT) AS i4,
         CAST(SUM(m8) AS BIGINT) AS i8, CAST(SUM(m16) AS BIGINT) AS i16
  FROM per_vec
)
SELECT k, inertia, n_points FROM (
  SELECT CAST(2 AS BIGINT) AS k, i2 AS inertia, n_points FROM tot
  UNION ALL SELECT 4, i4, n_points FROM tot
  UNION ALL SELECT 8, i8, n_points FROM tot
  UNION ALL SELECT 16, i16, n_points FROM tot
) ORDER BY k
""",
)
def kmeans_inertia_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS model-selection ELBOW curve — within-cluster inertia at
    k = 2/4/8/16 in ONE pass (kmeans_assign_embeddings is a single
    assignment step; this is the curve you look at to CHOOSE k).
    Exactness comes from a shared-grid INT8 quantization: one GLOBAL
    absmax/127 scale (a 1-row broadcast scalar — per-vector scales
    would put points on different grids and make distances
    meaningless), so every squared-L2 distance is an exact int64 and
    each inertia an exact integer sum — nothing float-accumulated
    across rows. The k=16 centroid set is prefix-nested (centroids =
    lowest 16 vec_ids, k=2 uses the first 2, ...), so all four
    inertias fall out of one broadcast cross product (16 = a query
    constant) via conditional mins — the monotone non-increasing
    inertia staircase is guaranteed by construction. Scale: map-side
    distance evaluation against a broadcast constant-size centroid
    table, one vec-keyed aggregation, one 4-row unpivot."""
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
    c = q.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    d = q.join(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    per_vec = d.groupBy("vec_id").agg(
        F.min(F.when(F.col("cid") < 2, F.col("dist"))).alias("m2"),
        F.min(F.when(F.col("cid") < 4, F.col("dist"))).alias("m4"),
        F.min(F.when(F.col("cid") < 8, F.col("dist"))).alias("m8"),
        F.min("dist").alias("m16"),
    )
    tot = per_vec.agg(
        F.count("*").alias("n_points"),
        F.sum("m2").alias("i2"),
        F.sum("m4").alias("i4"),
        F.sum("m8").alias("i8"),
        F.sum("m16").alias("i16"),
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.col(f"i{k}").alias("inertia"),
            )
            for k in (2, 4, 8, 16)
        ]
    )
    return (
        tot.select(F.explode(pairs).alias("e"), "n_points")
        .select(
            F.col("e.k").alias("k"),
            F.col("e.inertia").alias("inertia"),
            "n_points",
        )
        .orderBy("k")
    )


@register(
    "mutual_nn_int8_ivf",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
kk AS (
  SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k
  FROM q
),
c AS (
  SELECT vec_id AS cid, qv AS cv FROM q CROSS JOIN kk
  WHERE vec_id < kk.k
),
pd AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM q, c
),
probes AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM pd
  ) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM probes a JOIN probes b ON a.cid = b.cid
  WHERE a.vec_id <> b.vec_id
),
cd AS (
  SELECT cand.va, cand.vb,
         CAST(list_sum(list_transform(range(1, len(qa.qv) + 1),
              i -> (qa.qv[CAST(i AS INT)] - qb.qv[CAST(i AS INT)])
                   * (qa.qv[CAST(i AS INT)] - qb.qv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM cand
  JOIN q qa ON qa.vec_id = cand.va
  JOIN q qb ON qb.vec_id = cand.vb
),
nn AS (
  SELECT va, vb, dist FROM (
    SELECT va, vb, dist,
           row_number() OVER (PARTITION BY va
                              ORDER BY dist, vb) AS rn
    FROM cd
  ) WHERE rn = 1
)
SELECT m1.va AS vec_a, m1.vb AS vec_b, m1.dist AS dist_sq
FROM nn m1 JOIN nn m2 ON m1.vb = m2.va AND m2.vb = m1.va
WHERE m1.va < m1.vb
ORDER BY vec_a
""",
)
def mutual_nn_int8_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL (reciprocal) nearest neighbors over int8 embeddings with
    IVF candidate generation — the pairing primitive behind
    bitext mining, MNN batch-effect alignment, and high-precision
    near-dup seeding: a pair survives only if each vector is the
    OTHER's top-1 neighbor, the strongest symmetric similarity
    evidence cheap to compute at corpus scale. Search is never
    all-pairs: vectors land in the cells of their 2 nearest of
    k = max(16, floor(sqrt(N))) centroids (multi-probe IVF — same
    shared-grid int8 space as kmeans_inertia_elbow, one global absmax
    scale; centroid count DERIVED from a count aggregate, centroid
    identity still the deterministic vec_id < k prefix so the oracle
    replays exactly — sqrt is IEEE-correctly-rounded in both
    engines). k ∝ √N is the scale law: candidate shuffle is
    Σ cell² ≈ 4N²/k = O(N^1.5) pairs and probe assignment is N·k =
    O(N^1.5) — balanced, so neither side degenerates to n² when the
    corpus grows 100×. Candidates meet through a pure EQUI-join on
    cell id, and top-1 / mutuality are keyed windows and an equi
    self-join. All distances are exact int64 squared-L2 on the shared
    grid; ties break to the lower vec_id in both engines."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # Spread the single-partition scan and persist the quantized
    # table: q feeds FIVE consumers (the k count, the centroid prefix,
    # probe assignment, and both verify sides) — without the persist
    # each one replays the scan+quantize as its own serialized job
    # (optimization r18, guide §2.4/§5 recompute elimination).
    b = spread_scan(
        emb.select("vec_id", as_double(F.col("embedding")).alias("l"))
    )
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
    kdf = q.agg(
        F.greatest(F.lit(16), F.floor(F.sqrt(F.count("*"))))
        .cast("long")
        .alias("k")
    )
    c = (
        q.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )

    def sq_l2(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda a_, b_: (a_ - b_) * (a_ - b_)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    pd_ = q.join(F.broadcast(c)).select(
        "vec_id", "cid", sq_l2("qv", "cv").alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (
        pd_.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("vec_id", "cid")
    )
    pa = probes.select(F.col("vec_id").alias("va"), "cid")
    pb = probes.select(F.col("vec_id").alias("vb"), "cid")
    cand = (
        pa.join(pb, "cid")
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb")
        .distinct()
    )
    qa = q.select(F.col("vec_id").alias("va"), F.col("qv").alias("qva"))
    qb = q.select(F.col("vec_id").alias("vb"), F.col("qv").alias("qvb"))
    # Pin the exact-verify stage's parallelism: the candidate shuffle
    # is narrow metadata (two longs/row), so AQE's byte-based
    # coalescing collapses the CPU-dense sq_l2 + top-1 stage to a
    # single task (measured: a 5.0 s one-task stage reading a 101 KB
    # pair shuffle at sf0.1). An explicit fixed-count repartition on
    # the window key is exempt from AQE coalescing, spreads the
    # distance compute across the cluster, and the top-1 window reuses
    # the hash(va) partitioning with no further exchange (optimization
    # r18, guide §2.5/§8: decide placement on lightweight proxies; one
    # extra narrow shuffle buys full parallelism for the heavy stage).
    cand = cand.repartition(default_parallelism(cand), "va")
    cd = (
        cand.join(qa, "va")
        .join(qb, "vb")
        .select("va", "vb", sq_l2("qva", "qvb").alias("dist"))
    )
    wn = Window.partitionBy("va").orderBy("dist", "vb")
    nn = (
        cd.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("va", "vb", "dist")
    )
    # Pin the N-row top-1 table once: the mutuality check consumes it
    # TWICE (both sides of the reciprocal join), and the returned frame
    # reads the pin instead of q.
    nn = checkpoint(nn)
    m2 = nn.select(
        F.col("va").alias("va2"), F.col("vb").alias("vb2")
    )
    return (
        nn.join(
            m2,
            (F.col("vb") == F.col("va2")) & (F.col("vb2") == F.col("va")),
        )
        .filter(F.col("va") < F.col("vb"))
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            F.col("dist").alias("dist_sq"),
        )
        .orderBy("vec_a")
    )


@register(
    "ann_pq_adc_topk",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
sub AS (
  SELECT vec_id, j, qv[j * 16 + 1 : j * 16 + 16] AS sv
  FROM q, (SELECT unnest([0, 1, 2, 3]) AS j)
),
cb AS (
  SELECT vec_id AS cid, j, sv AS cv FROM sub WHERE vec_id < 8
),
dists AS (
  SELECT s.vec_id, s.j, c.cid,
         CAST(list_sum(list_transform(range(1, 17),
              i -> (s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
              AS BIGINT) AS d
  FROM sub s JOIN cb c ON c.j = s.j
),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d, cid) AS rn
    FROM dists
  ) WHERE rn = 1
),
adc_lut AS (
  SELECT j, cid, d FROM dists WHERE vec_id = 0
),
adc AS (
  SELECT codes.vec_id, CAST(SUM(lut.d) AS BIGINT) AS adc_dist_sq
  FROM codes JOIN adc_lut lut
    ON lut.j = codes.j AND lut.cid = codes.code
  GROUP BY 1
),
tru AS (
  SELECT a.vec_id,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> (a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)])
                   * (a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)])))
              AS BIGINT) AS true_dist_sq
  FROM q a JOIN q b ON b.vec_id = 0
)
SELECT * FROM (
  SELECT adc.vec_id,
         CAST(row_number() OVER (ORDER BY adc.adc_dist_sq, adc.vec_id)
              AS BIGINT) AS rnk,
         adc.adc_dist_sq, tru.true_dist_sq
  FROM adc JOIN tru ON tru.vec_id = adc.vec_id
  WHERE adc.vec_id <> 0
) WHERE rnk <= 20 ORDER BY rnk
""",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN with ASYMMETRIC DISTANCE COMPUTATION
    (Jégou et al., PAMI 2011) — the remaining classic ANN family next
    to the repo's IVF (ann_ivf), hyperplane-LSH, JL projection and
    flat int8 scan: each 64-dim vector is split into m=4 subspaces of
    16 dims, each subspace is coded to its nearest of 8 fixed
    sub-centroids (the lowest-8 vec_ids' subvectors — deterministic,
    shared int8 grid), and the query's distance to EVERY database
    vector collapses to 4 lookups in a 4x8 LUT of exact int64
    subspace distances + a 4-term sum. The LUT is a 32-row broadcast;
    encoding is a map-side argmin against a broadcast 8x4 codebook —
    at 100 TB the codes table is 16x smaller than int8 (4 codes/vec),
    the scan never touches raw vectors, and no shuffle exceeds the
    vec-keyed aggregate. Top-20 by ADC distance with vec_id
    tie-break; the exact int8 distance rides along to expose the PQ
    approximation error. Reference parity: trueyao/spark-lever has no
    PQ — this extends the ANN coverage Spark-first."""
    from pyspark.sql.window import Window

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
    sub = q.select(
        "vec_id",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
        F.col("qv"),
    ).select(
        "vec_id",
        "j",
        F.expr("slice(qv, j * 16 + 1, 16)").alias("sv"),
    )
    cb = sub.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("j").alias("cj"),
        F.col("sv").alias("cv"),
    )

    def sq_l2(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda a_, b_: (a_ - b_) * (a_ - b_)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    dists = sub.join(F.broadcast(cb), F.col("cj") == F.col("j")).select(
        "vec_id", "j", "cid", sq_l2("sv", "cv").alias("d")
    )
    codes = (
        dists.groupBy("vec_id", "j")
        .agg(F.min(F.struct("d", "cid")).alias("m"))
        .select("vec_id", "j", F.col("m.cid").alias("code"))
    )
    lut = dists.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("lj"), F.col("cid").alias("lcid"), "d"
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("lj") == F.col("j")) & (F.col("lcid") == F.col("code")),
        )
        .groupBy("vec_id")
        .agg(F.sum("d").alias("adc_dist_sq"))
    )
    qv0 = q.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("qv0")
    )
    tru = q.join(F.broadcast(qv0)).select(
        F.col("vec_id").alias("tv"), sq_l2("qv", "qv0").alias("true_dist_sq")
    )
    # TakeOrderedAndProject bounds the global sort to 20 rows per
    # partition + a 20-row driver merge; the row_number window then
    # only ever sees those 20 rows (never a full single-partition
    # sort of the corpus).
    top = (
        adc.filter(F.col("vec_id") != 0)
        .orderBy("adc_dist_sq", "vec_id")
        .limit(20)
    )
    w = Window.orderBy("adc_dist_sq", "vec_id")
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .join(tru, F.col("tv") == F.col("vec_id"))
        .select("vec_id", "rnk", "adc_dist_sq", "true_dist_sq")
        .orderBy("rnk")
    )


@register(
    "embedding_top_pc_power_iteration",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
g AS (
  SELECT a.i, b.j, CAST(SUM(qv[a.i] * qv[b.j]) AS BIGINT) AS g
  FROM q, unnest(range(1, len(qv) + 1)) a(i),
       unnest(range(1, len(qv) + 1)) b(j)
  GROUP BY 1, 2
),
dims AS (SELECT DISTINCT i FROM g),
v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS val FROM dims),
u1 AS (
  SELECT g.i, SUM(CAST(g.g AS HUGEINT) * v0.val) AS u
  FROM g JOIN v0 ON v0.i = g.j GROUP BY g.i
),
m1 AS (SELECT max(abs(u)) AS m FROM u1),
v1 AS (
  SELECT i, CASE WHEN u >= 0 THEN CAST(u * 1000000 // m AS BIGINT)
            ELSE -CAST((-u) * 1000000 // m AS BIGINT) END AS val
  FROM u1 CROSS JOIN m1 WHERE m > 0
),
u2 AS (
  SELECT g.i, SUM(CAST(g.g AS HUGEINT) * v1.val) AS u
  FROM g JOIN v1 ON v1.i = g.j GROUP BY g.i
),
m2 AS (SELECT max(abs(u)) AS m FROM u2),
v2 AS (
  SELECT i, CASE WHEN u >= 0 THEN CAST(u * 1000000 // m AS BIGINT)
            ELSE -CAST((-u) * 1000000 // m AS BIGINT) END AS val
  FROM u2 CROSS JOIN m2 WHERE m > 0
),
u3 AS (
  SELECT g.i, SUM(CAST(g.g AS HUGEINT) * v2.val) AS u
  FROM g JOIN v2 ON v2.i = g.j GROUP BY g.i
),
m3 AS (SELECT max(abs(u)) AS m FROM u3),
v3 AS (
  SELECT i, CASE WHEN u >= 0 THEN CAST(u * 1000000 // m AS BIGINT)
            ELSE -CAST((-u) * 1000000 // m AS BIGINT) END AS val
  FROM u3 CROSS JOIN m3 WHERE m > 0
),
ray AS (
  SELECT SUM(CAST(g.g AS HUGEINT) * a.val * b.val) AS num
  FROM g JOIN v3 a ON a.i = g.i JOIN v3 b ON b.i = g.j
),
den AS (SELECT SUM(CAST(val AS HUGEINT) * val) AS d FROM v3)
SELECT CAST(v3.i AS BIGINT) AS dim, v3.val AS component_micro,
       CAST(ray.num // den.d AS BIGINT) AS lambda_est
FROM v3 CROSS JOIN ray CROSS JOIN den
ORDER BY dim
""",
)
def embedding_top_pc_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding corpus by POWER
    ITERATION on the (uncentered) Gram matrix — the dominant-direction
    primitive behind embedding whitening, all-but-the-top
    post-processing (Mu & Viswanath 2018: removing the top PC
    measurably improves similarity quality), and drift monitoring
    (embedding_dominant_dims tracks per-dim mass; this finds the
    actual direction). Everything is exact integer arithmetic on the
    shared int8 grid: G = Σ qvqvᵀ is a 64×64 exact int64 table (one
    map-side-combinable aggregation over the pos-exploded vectors —
    dim² × N products, the ONLY data-sized pass), and each of the 3
    iterations is v ← ⌊G·v·10⁶ / max|G·v|⌋ — a 64-row broadcast join,
    with the sign factored out (sign(u)·(|u|·10⁶ // m)) so the
    floor-division runs on non-negative operands where Spark's div
    and DuckDB's // agree. The Rayleigh quotient vᵀGv/vᵀv (exact
    HUGEINT ⟷ decimal(38,0) products, PSD so non-negative) reports
    the dominant eigenvalue. Convergence in 3 fixed rounds is the
    bounded-rounds doctrine (pagerank precedent): enough for a
    stable leading direction under a spectral gap, a query constant
    — never data-sized."""
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
    # Gram accumulation as ONE map-side pass (optimization r18, guide
    # §2.4 remove shuffles): the old form posexploded the quantized
    # vectors twice and self-joined on vec_id — a shuffle of 2·N·64
    # rows plus a hash join, when the 64x64 outer product of each
    # vector is a purely local computation. The nested-transform
    # explode emits the same dim²·N products straight into the
    # map-side-combinable (i, j) aggregation (4096 groups), so the
    # only shuffle left is the tiny final partial-merge.
    # Spread the dim² fan-out first (the minhash_bands probe pattern):
    # a single small parquet file scans as ONE partition, which
    # serialized the whole Gram pass on one core — the r18 bench read
    # 5.17 s (2.08x gate) against 0.9 s once spread. No-op when the
    # input already scans at session parallelism (cluster scale).
    q = spread_scan(q)
    g = checkpoint(
        q.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "qv",
                        lambda a, i0: F.transform(
                            "qv",
                            lambda b, j0: F.struct(
                                (i0 + 1).alias("i"),
                                (j0 + 1).alias("j"),
                                (a * b).alias("p"),
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )
    v = g.select("i").distinct().select(
        "i", F.lit(1000000).cast("long").alias("val")
    )
    for _ in range(3):
        vj = v.select(F.col("i").alias("vj"), F.col("val").alias("vval"))
        u = (
            g.join(F.broadcast(vj), g.j == F.col("vj"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("g").cast("decimal(38,0)") * F.col("vval")
                ).alias("u")
            )
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = checkpoint(
            u.crossJoin(F.broadcast(m))
            .filter(F.col("m") > 0)
            .select(
                "i",
                F.when(
                    F.col("u") >= 0,
                    F.expr("CAST(u * 1000000 div m AS BIGINT)"),
                )
                .otherwise(
                    -F.expr("CAST((-u) * 1000000 div m AS BIGINT)")
                )
                .alias("val"),
            )
        )
    va = v.select(F.col("i").alias("ai"), F.col("val").alias("aval"))
    vb = v.select(F.col("i").alias("bi"), F.col("val").alias("bval"))
    ray = (
        g.join(F.broadcast(va), g.i == F.col("ai"))
        .join(F.broadcast(vb), g.j == F.col("bi"))
        .agg(
            F.sum(
                F.col("g").cast("decimal(38,0)")
                * F.col("aval")
                * F.col("bval")
            ).alias("num")
        )
    )
    den = v.agg(
        F.sum(F.col("val").cast("decimal(38,0)") * F.col("val")).alias(
            "d"
        )
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("i").cast("long").alias("dim"),
            F.col("val").alias("component_micro"),
            F.expr("CAST(num div d AS BIGINT)").alias("lambda_est"),
        )
        .orderBy("dim")
    )


@register(
    "semdedup_int8_cells",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
kk AS (
  SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k
  FROM q
),
cc AS (
  SELECT vec_id AS cid, qv AS cv FROM q CROSS JOIN kk
  WHERE vec_id < kk.k
),
cpd AS (
  SELECT q.vec_id, cc.cid,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> (q.qv[CAST(i AS INT)] - cc.cv[CAST(i AS INT)])
                   * (q.qv[CAST(i AS INT)] - cc.cv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM q, cc
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM cpd
  ) WHERE rn = 1
),
qq AS (
  SELECT q.vec_id, cells.cell, q.qv,
         CAST(list_sum(list_transform(q.qv, v -> v * v)) AS BIGINT)
             AS nrm
  FROM q JOIN cells ON cells.vec_id = q.vec_id
),
pr AS (
  SELECT a.vec_id AS ca, b.vec_id AS dup, a.cell AS cell
  FROM qq a JOIN qq b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, len(a.qv) + 1),
          i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)])) > 0
    AND CAST(400 AS HUGEINT)
        * list_sum(list_transform(range(1, len(a.qv) + 1),
            i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]))
        * list_sum(list_transform(range(1, len(a.qv) + 1),
            i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]))
        >= CAST(49 AS HUGEINT) * a.nrm * b.nrm
)
SELECT dup AS dup_id, CAST(min(ca) AS BIGINT) AS canonical_id,
       min(cell) AS cell
FROM pr GROUP BY dup ORDER BY dup_id
""",
)
def semdedup_int8_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 — SEMANTIC deduplication by
    embedding similarity inside clustering cells, the method behind
    the LAION/DataComp-scale prunes) on the shared int8 grid: vectors
    meet ONLY within their cell — the cell id is each vector's
    NEAREST of k = max(16, ⌊√N⌋) deterministic prefix centroids
    (vec_id < k on the shared int8 grid, ties to the lower cid; the
    mutual_nn_int8_ivf convention), so cell count GROWS with the
    corpus and Σ cell² ≈ N²/k = O(N^1.5) — a fixed label-keyed
    bucketing would quietly degenerate to n² pairwise work at 100×
    the data. A pair is a semantic duplicate when
    cosine ≥ 0.35 (the corpus's near-orthogonal background makes 0.35
    the document-threshold stand-in; production would use ~0.95 with
    the identical plan — see dedup_embedding_cosine), and each
    duplicate keeps the LOWEST vec_id as canonical. The cosine
    predicate is EXACT integer arithmetic — dot > 0 ∧ 400·dot² ≥
    49·|a|²·|b|² on the absmax-scaled int8 grid (0.35² = 49/400;
    HUGEINT ⟷ decimal(38,0) cross-products) — no float cosine to
    drift between engines, unlike dedup_embedding_cosine's
    double-based variant which this upgrades. Scale: centroid
    assignment is N·k = O(N^1.5) rows through a broadcast join (k
    centroids are always broadcast-sized), then one equi-join on
    cell id — both sides of the scale law balanced at √N cells,
    exactly the mutual_nn_int8_ivf argument."""
    from pyspark.sql.window import Window

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
    kdf = q.agg(
        F.greatest(F.lit(16), F.floor(F.sqrt(F.count("*"))))
        .cast("long")
        .alias("k")
    )
    cent = (
        q.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    cpd = q.join(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("cdist"),
    )
    wc = Window.partitionBy("vec_id").orderBy("cdist", "cid")
    cells = (
        cpd.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("cvid"), F.col("cid").alias("label"))
    )
    q = q.join(cells, q.vec_id == F.col("cvid")).select(
        "vec_id", "label", "qv"
    )
    qq = q.withColumn(
        "nrm",
        F.aggregate(
            F.transform("qv", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    a = qq.select(
        F.col("vec_id").alias("ca"),
        F.col("label").alias("cell"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    bb = qq.select(
        F.col("vec_id").alias("dup"),
        F.col("label").alias("lb"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pr = (
        a.join(
            bb,
            (F.col("cell") == F.col("lb")) & (F.col("ca") < F.col("dup")),
        )
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(400).cast("decimal(38,0)")
                * F.col("dot")
                * F.col("dot")
                >= F.lit(49).cast("decimal(38,0)")
                * F.col("na")
                * F.col("nb")
            )
        )
    )
    return (
        pr.groupBy(F.col("dup").alias("dup_id"))
        .agg(
            F.min("ca").alias("canonical_id"),
            F.min("cell").alias("cell"),
        )
        .orderBy("dup_id")
    )


@register(
    "lof_outliers_int8_cells",
    oracle="""
WITH
""" + _GLOBAL_INT8_CTES + """,
kk AS (
  SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k
  FROM q
),
cc AS (
  SELECT vec_id AS cid, qv AS cv FROM q CROSS JOIN kk
  WHERE vec_id < kk.k
),
cpd AS (
  SELECT q.vec_id, cc.cid,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> (q.qv[CAST(i AS INT)] - cc.cv[CAST(i AS INT)])
                   * (q.qv[CAST(i AS INT)] - cc.cv[CAST(i AS INT)])))
              AS BIGINT) AS dist
  FROM q, cc
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM cpd
  ) WHERE rn = 1
),
qq AS (
  SELECT q.vec_id, cells.cell, q.qv
  FROM q JOIN cells ON cells.vec_id = q.vec_id
),
pd AS (
  SELECT a.vec_id AS i, b.vec_id AS j, a.cell AS cell,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              t -> (a.qv[CAST(t AS INT)] - b.qv[CAST(t AS INT)])
                   * (a.qv[CAST(t AS INT)] - b.qv[CAST(t AS INT)])))
              AS BIGINT) AS dist
  FROM qq a JOIN qq b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT i, j, cell, dist FROM (
    SELECT i, j, cell, dist,
           row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rn
    FROM pd
  ) WHERE rn <= 5
),
kd AS (
  SELECT i AS node, CAST(max(dist) AS BIGINT) AS kdist,
         CAST(count(*) AS BIGINT) AS cnt
  FROM knn GROUP BY i
),
reach AS (
  SELECT knn.i, knn.j, knn.cell,
         CAST(GREATEST(knn.dist, kdj.kdist) AS BIGINT) AS rd
  FROM knn JOIN kd kdj ON kdj.node = knn.j
),
rsum AS (
  SELECT reach.i AS node, min(reach.cell) AS cell,
         CAST(SUM(rd) AS BIGINT) AS r,
         CAST(count(*) AS BIGINT) AS cnt
  FROM reach GROUP BY reach.i
),
lof AS (
  SELECT ri.node, ri.cell, ri.cnt,
         CAST(SUM(CASE WHEN rj.r > 0 THEN
              CAST(rj.cnt AS HUGEINT) * ri.r * 1000
              // (CAST(rj.r AS HUGEINT) * ri.cnt) END)
              // ri.cnt AS BIGINT) AS lof_milli
  FROM rsum ri
  JOIN knn ON knn.i = ri.node
  JOIN rsum rj ON rj.node = knn.j
  GROUP BY ri.node, ri.cell, ri.cnt, ri.r
)
SELECT node AS vec_id, cell, cnt AS n_neighbors, lof_milli
FROM lof
ORDER BY lof_milli DESC, vec_id LIMIT 20
""",
)
def lof_outliers_int8_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL OUTLIER FACTOR (Breunig et al. 2000 — density-RATIO
    outlier scoring: a point is anomalous when its local density is
    low RELATIVE to its neighbors', which catches outliers sitting
    next to dense clusters that any global threshold — mahalanobis,
    dbscan's fixed eps — misses) over int8 embeddings, k = 5
    neighbors searched WITHIN IVF cells — each vector's nearest of
    kc = max(16, ⌊√N⌋) deterministic prefix centroids (vec_id < kc,
    ties to lower cid; the mutual_nn/semdedup cell doctrine), so
    cell count grows with the corpus and the pairwise stage is
    Σ cell² ≈ N²/kc = O(N^1.5), never n². All distances are
    exact int64 squared-L2 on the shared grid (the squared-distance
    LOF variant — a monotone transform of the classic, documented);
    reachability reach(i,j) = max(d(i,j), kdist(j)) and the density
    ratio lrd_j/lrd_i = (cnt_j·R_i)/(R_j·cnt_i) stay exact integer
    fractions, per-term milli-floored and averaged by one more floor
    (degenerate duplicate-point cells, R = 0, drop from the sum via
    the CASE guard). Deterministic top-20 by (score, id). Scale:
    centroid assignment is N·kc through a broadcast join, then one
    cell-keyed self-join for distances, two keyed windows/rollups,
    one neighbor re-join — √N cells keep both stages O(N^1.5)."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # Spread the single-partition scan and persist the quantized table
    # (FOUR consumers: the k count, centroid prefix, the N·kc probe
    # stage, and the cell re-join) — the mutual_nn_int8_ivf treatment
    # (optimization r18, guide §2.4/§5).
    b = spread_scan(
        emb.select("vec_id", as_double(F.col("embedding")).alias("l"))
    )
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
    kdf = q.agg(
        F.greatest(F.lit(16), F.floor(F.sqrt(F.count("*"))))
        .cast("long")
        .alias("k")
    )
    cent = (
        q.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    cpd = q.join(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("cdist"),
    )
    wc = Window.partitionBy("vec_id").orderBy("cdist", "cid")
    cells = (
        cpd.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("cvid"), F.col("cid").alias("label"))
    )
    q = q.join(cells, q.vec_id == F.col("cvid")).select(
        "vec_id", "label", "qv"
    )
    a = q.select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("cell"),
        F.col("qv").alias("qa"),
    )
    # Pin the cell self-join's parallelism: the pair stage is the
    # O(N^1.5) CPU core and its inputs are byte-light, so AQE's
    # coalescing serializes it (the mutual_nn single-task collapse).
    # hash(cell) at the session's parallelism satisfies the join's
    # distribution, so only the bb side re-exchanges; cells ≈ √N ≫
    # cores at scale, so the keyed spread stays balanced.
    a = a.repartition(default_parallelism(a), "cell")
    bb = q.select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("lb"),
        F.col("qv").alias("qb"),
    )
    dist = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pd_ = (
        a.join(bb, (F.col("cell") == F.col("lb")) & (F.col("i") != F.col("j")))
        .select("i", "j", "cell", dist.alias("dist"))
    )
    w = Window.partitionBy("i").orderBy("dist", "j")
    knn = checkpoint(
        pd_.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("i", "j", "cell", "dist")
    )
    kd = knn.groupBy(F.col("i").alias("node")).agg(
        F.max("dist").alias("kdist"), F.count("*").alias("cnt")
    )
    reach = knn.join(
        kd.select(F.col("node").alias("jn"), "kdist"),
        knn.j == F.col("jn"),
    ).select(
        "i", "j", "cell", F.greatest("dist", "kdist").alias("rd")
    )
    rsum = reach.groupBy(F.col("i").alias("node")).agg(
        F.min("cell").alias("cell"),
        F.sum("rd").alias("r"),
        F.count("*").alias("cnt"),
    )
    ri = rsum.select(
        F.col("node").alias("inode"),
        F.col("cell").alias("icell"),
        F.col("r").alias("ri"),
        F.col("cnt").alias("icnt"),
    )
    rj = rsum.select(
        F.col("node").alias("jnode"),
        F.col("r").alias("rj"),
        F.col("cnt").alias("jcnt"),
    )
    dec = "decimal(38,0)"
    knn2 = knn.select(F.col("i").alias("ki"), F.col("j").alias("kj"))
    lof = (
        ri.join(knn2, F.col("inode") == F.col("ki"))
        .join(rj, F.col("kj") == F.col("jnode"))
        .groupBy("inode", "icell", "icnt", "ri")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN rj > 0 THEN"
                f" CAST(jcnt AS {dec}) * ri * 1000"
                f" div (CAST(rj AS {dec}) * icnt) END)"
                f" div icnt AS BIGINT)"
            ).alias("lof_milli")
        )
    )
    return (
        lof.select(
            F.col("inode").alias("vec_id"),
            F.col("icell").alias("cell"),
            F.col("icnt").alias("n_neighbors"),
            "lof_milli",
        )
        .orderBy(F.desc("lof_milli"), "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Multimodal feature extraction + embedding drift
# ---------------------------------------------------------------------------


@register(
    "embedding_centroid_drift_labels",
    oracle="""
WITH comp AS (
  SELECT label, t.i AS pos,
         CAST(floor(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(len(embedding))) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(SUM(q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM comp GROUP BY 1, 2
),
cm AS (
  SELECT label, pos,
         CASE WHEN s >= 0 THEN CAST(s * 1000 // n AS BIGINT)
              ELSE -CAST((-s) * 1000 // n AS BIGINT) END AS c_micro
  FROM cent
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.c_micro - b.c_micro AS HUGEINT)
                  * (a.c_micro - b.c_micro)) AS HUGEINT) AS l2sq
  FROM cm a JOIN cm b ON b.pos = a.pos AND b.label > a.label
  GROUP BY 1, 2
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT)
           AS label_b,
       CAST(l2sq // 1000000 AS BIGINT) AS centroid_l2sq_micro
FROM pairs ORDER BY label_a, label_b
""",
)
def embedding_centroid_drift_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE CENTROID DRIFT between embedding label clusters —
    the distribution-shift monitor an embedding pipeline runs per
    ingest batch (are today's class centroids where yesterday's
    were?): each component quantizes to the exact milli grid
    (floor(v·1000 + 0.5) — one deterministic double product per
    float, the documented grid), per-label centroids are SIGN-SPLIT
    micro floor-divisions of exact int64 component sums, and every
    label pair publishes the exact squared L2 distance between
    centroid vectors (HUGEINT ⟷ decimal(38,0), re-floored to the
    micro grid). 10 labels ⇒ 45 pairs — the full drift matrix, not
    a sample. Scale: one (label, pos) rollup after a posexplode
    (64·N rows, map-side combinable), then a 640-row self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).selectExpr(
        "label",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    cent = comp.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    cm = cent.selectExpr(
        "label",
        "pos",
        "CASE WHEN s >= 0 THEN CAST(s * 1000 div n AS BIGINT)"
        " ELSE -CAST((-s) * 1000 div n AS BIGINT) END AS c_micro",
    )
    a = cm.selectExpr(
        "label AS label_a", "pos AS pa", "c_micro AS ca"
    )
    b = cm.selectExpr(
        "label AS label_b", "pos AS pb", "c_micro AS cb"
    )
    pairs = (
        a.join(
            b,
            (F.col("pb") == F.col("pa"))
            & (F.col("label_b") > F.col("label_a")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.expr(f"CAST(ca - cb AS {DEC38}) * (ca - cb)")
            ).alias("l2sq")
        )
    )
    return pairs.selectExpr(
        "CAST(label_a AS INT) AS label_a",
        "CAST(label_b AS INT) AS label_b",
        f"CAST(l2sq div 1000000 AS BIGINT) AS centroid_l2sq_micro",
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# Clustering quality: simplified silhouette + Calinski-Harabasz
# ---------------------------------------------------------------------------

# Shared milli-grid embedding quantization + per-label centroids (the
# embedding_centroid_drift_labels grid): q = floor(v*1000 + 0.5),
# centroid component = sign-split micro floor of the exact sums.
_EMB_CENT_CTE = """
comp AS (
  SELECT vec_id, label, t.i AS pos,
         CAST(floor(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(len(embedding))) AS t(i)
),
cent AS (
  SELECT label, pos,
         CASE WHEN SUM(q) >= 0
              THEN CAST(SUM(q) * 1000 // count(*) AS BIGINT)
              ELSE -CAST((-SUM(q)) * 1000 // count(*) AS BIGINT)
         END AS c_micro,
         CAST(count(*) AS BIGINT) AS n_members
  FROM comp GROUP BY 1, 2
)
"""


def _emb_comp_cent(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).selectExpr(
        "vec_id",
        "label",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    cent = comp.groupBy("label", "pos").agg(
        F.expr(
            "CASE WHEN SUM(q) >= 0"
            " THEN CAST(SUM(q) * 1000 div count(*) AS BIGINT)"
            " ELSE -CAST((-SUM(q)) * 1000 div count(*) AS BIGINT) END"
        ).alias("c_micro"),
        F.count("*").alias("n_members"),
    )
    return comp, cent


@register(
    "silhouette_simplified_labels",
    oracle="""
WITH
""" + _EMB_CENT_CTE + """,
d2 AS (
  SELECT comp.vec_id, comp.label AS own_label, cent.label AS to_label,
         CAST(SUM(CAST(comp.q * 1000 - cent.c_micro AS HUGEINT)
                  * (comp.q * 1000 - cent.c_micro)) AS HUGEINT) AS dd
  FROM comp JOIN cent ON cent.pos = comp.pos
  GROUP BY 1, 2, 3
),
ab AS (
  SELECT vec_id, own_label,
         CAST(max(CASE WHEN to_label = own_label THEN dd END)
              AS HUGEINT) AS a2,
         CAST(min(CASE WHEN to_label <> own_label THEN dd END)
              AS HUGEINT) AS b2
  FROM d2 GROUP BY 1, 2
),
s AS (
  SELECT own_label AS label,
         CASE WHEN b2 > a2 THEN CAST((b2 - a2) * 1000000
                   // (CASE WHEN a2 > b2 THEN a2 ELSE b2 END)
                   AS BIGINT)
              WHEN a2 > b2 THEN -CAST((a2 - b2) * 1000000
                   // (CASE WHEN a2 > b2 THEN a2 ELSE b2 END)
                   AS BIGINT)
              ELSE 0 END AS s_ppm
  FROM ab WHERE a2 IS NOT NULL AND b2 IS NOT NULL
)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_points,
       CASE WHEN SUM(s_ppm) >= 0
            THEN CAST(SUM(s_ppm) // count(*) AS BIGINT)
            ELSE -CAST((-SUM(s_ppm)) // count(*) AS BIGINT)
       END AS mean_silhouette_ppm
FROM s GROUP BY label ORDER BY label
""",
)
def silhouette_simplified_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIMPLIFIED SILHOUETTE per embedding label — the cluster-
    quality score kmeans_inertia_elbow (within-scatter only) cannot
    see: for each vector, a = squared distance to its OWN centroid,
    b = squared distance to the NEAREST other centroid, s =
    (b−a)/max(a,b) — the centroid-based simplified silhouette
    (Hruschka 2004; O(N·k) instead of the O(N²) full silhouette),
    here on SQUARED distances (the documented monotone discrete
    variant — sign and ranking agree with the classic; no sqrt
    ever runs). Vectors and centroids meet on the micro grid
    (comp·1000 vs the micro centroid — same scale), all distances
    exact HUGEINT ⟷ decimal(38,0); per-point and per-label means
    are SIGN-SPLIT floors. Scale: one posexplode rollup, one
    (pos)-join of N·64 rows against the 640-row broadcast centroid
    table, one per-point reduce."""
    comp, cent = _emb_comp_cent(spark, sf_dir)
    d2 = (
        comp.join(
            F.broadcast(
                cent.selectExpr(
                    "label AS to_label", "pos AS cpos", "c_micro"
                )
            ),
            F.col("cpos") == F.col("pos"),
        )
        .groupBy("vec_id", F.col("label").alias("own_label"), "to_label")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(q * 1000 - c_micro AS {DEC38})"
                    " * (q * 1000 - c_micro)"
                )
            ).alias("dd")
        )
    )
    ab = d2.groupBy("vec_id", "own_label").agg(
        F.max(
            F.when(F.col("to_label") == F.col("own_label"), F.col("dd"))
        ).alias("a2"),
        F.min(
            F.when(F.col("to_label") != F.col("own_label"), F.col("dd"))
        ).alias("b2"),
    )
    s = ab.filter(
        F.col("a2").isNotNull() & F.col("b2").isNotNull()
    ).selectExpr(
        "own_label AS label",
        "CASE WHEN b2 > a2 THEN CAST((b2 - a2) * 1000000"
        " div (CASE WHEN a2 > b2 THEN a2 ELSE b2 END) AS BIGINT)"
        " WHEN a2 > b2 THEN -CAST((a2 - b2) * 1000000"
        " div (CASE WHEN a2 > b2 THEN a2 ELSE b2 END) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS s_ppm",
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").alias("n_points"),
            F.expr(
                "CASE WHEN SUM(s_ppm) >= 0"
                " THEN CAST(SUM(s_ppm) div count(*) AS BIGINT)"
                " ELSE -CAST((-SUM(s_ppm)) div count(*) AS BIGINT)"
                " END"
            ).alias("mean_silhouette_ppm"),
        )
        .selectExpr(
            "CAST(label AS INT) AS label",
            "n_points",
            "mean_silhouette_ppm",
        )
        .orderBy("label")
    )


@register(
    "calinski_harabasz_labels",
    oracle="""
WITH
""" + _EMB_CENT_CTE + """,
gmean AS (
  SELECT pos,
         CASE WHEN SUM(q) >= 0
              THEN CAST(SUM(q) * 1000 // count(*) AS BIGINT)
              ELSE -CAST((-SUM(q)) * 1000 // count(*) AS BIGINT)
         END AS g_micro
  FROM comp GROUP BY 1
),
ssw AS (
  SELECT CAST(SUM(CAST(comp.q * 1000 - cent.c_micro AS HUGEINT)
              * (comp.q * 1000 - cent.c_micro)) AS HUGEINT) AS w
  FROM comp JOIN cent
    ON cent.label = comp.label AND cent.pos = comp.pos
),
ssb AS (
  SELECT CAST(SUM(CAST(cent.n_members AS HUGEINT)
              * (cent.c_micro - gmean.g_micro)
              * (cent.c_micro - gmean.g_micro)) AS HUGEINT) AS b
  FROM cent JOIN gmean ON gmean.pos = cent.pos
),
dims AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
         CAST(count(DISTINCT label) AS BIGINT) AS k
  FROM comp
)
SELECT dims.n, dims.k,
       CASE WHEN ssw.w > 0 AND dims.k > 1
            THEN CAST(ssb.b * (dims.n - dims.k) * 1000
                      // (ssw.w * (dims.k - 1)) AS BIGINT)
       END AS ch_milli
FROM ssw, ssb, dims
""",
)
def calinski_harabasz_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALINSKI-HARABASZ VARIANCE-RATIO CRITERION of the embedding
    label clustering — CH = (SSB/(k−1))/(SSW/(n−k)), the
    cluster-separation index that is a PURE RATIONAL in the scatter
    sums (no sqrt, no log — unlike Davies-Bouldin): between-scatter
    weights each centroid's squared offset from the global mean by
    its membership, within-scatter sums squared member-to-centroid
    offsets, all on the shared micro grid with exact HUGEINT ⟷
    decimal(38,0) accumulation and ONE milli floor-division.
    Complements silhouette_simplified_labels (per-point view) with
    the global ANOVA-style view. Scale: one posexplode, two
    broadcast centroid joins, 1-row algebra."""
    comp, cent = _emb_comp_cent(spark, sf_dir)
    gmean = comp.groupBy("pos").agg(
        F.expr(
            "CASE WHEN SUM(q) >= 0"
            " THEN CAST(SUM(q) * 1000 div count(*) AS BIGINT)"
            " ELSE -CAST((-SUM(q)) * 1000 div count(*) AS BIGINT) END"
        ).alias("g_micro")
    )
    ssw = (
        comp.join(
            F.broadcast(
                cent.selectExpr(
                    "label AS cl", "pos AS cpos", "c_micro"
                )
            ),
            (F.col("cl") == F.col("label"))
            & (F.col("cpos") == F.col("pos")),
        )
        .agg(
            F.sum(
                F.expr(
                    f"CAST(q * 1000 - c_micro AS {DEC38})"
                    " * (q * 1000 - c_micro)"
                )
            ).alias("w")
        )
    )
    ssb = (
        cent.join(F.broadcast(gmean), "pos")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(n_members AS {DEC38})"
                    " * (c_micro - g_micro) * (c_micro - g_micro)"
                )
            ).alias("b")
        )
    )
    dims = comp.agg(
        F.countDistinct("vec_id").alias("n"),
        F.countDistinct("label").alias("k"),
    )
    return (
        ssw.crossJoin(ssb)
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "n",
            "k",
            "CASE WHEN w > 0 AND k > 1 THEN"
            " CAST(b * (n - k) * 1000 div (w * (k - 1)) AS BIGINT)"
            " END AS ch_milli",
        )
    )
