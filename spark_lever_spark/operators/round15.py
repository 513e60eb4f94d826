"""Round-15 training-data-pipeline additions (6 queries, paced to the
driver's stamp budget — VERDICT r14 item 2).

Corpus-shape measures a 100 TB curation pipeline runs between dedup
and packing: type-token growth (Heaps), exact distributional
homogeneity (two-sample chi-square), inter-source shingle overlap,
train/val n-gram leakage coverage, the RefinedWeb-style per-source
document cap, and the dedup threshold sweep. All arithmetic follows the house cross-engine doctrine:
integer counts, dyadic log2 via ``length(bin(x))-1``, sign-split
scaled integer division ({I}/{D} placeholders) — no transcendental in
any hash-gated output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.llm.dedup import _TUNED_EST_CTES
from spark_lever_spark.operators.round14c import (
    _WC_CTE,
    _duck,
    _spark,
    _ss_div,
    _word_counts,
)
from spark_lever_spark.registry import register

# Shared 3-shingle CTE (space-split, the dedup_shingle_containment
# construction) carrying source for the cross-source measures.
_SH3_CTE = """
tok3 AS (
  SELECT doc_id, source,
         generate_subscripts(string_split(text, ' '), 1) AS idx,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
sh3 AS (
  SELECT a.doc_id, a.source,
         a.word || ' ' || b.word || ' ' || c.word AS shingle
  FROM tok3 a
  JOIN tok3 b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  JOIN tok3 c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
)
"""


def _shingles3(col: Column) -> Column:
    """Overlapping 3-token shingles of a space-split text column
    (array<string>; empty below 3 tokens) — mirrors _SH3_CTE."""
    lst = F.split(col, " ")
    return F.when(
        F.size(lst) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(lst) - 2),
            lambda i: F.array_join(F.slice(lst, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


_HEAPS_SLOPE = _ss_div("nb * sxy - sx * sy", "nb * sxx - sx * sx", 1000)


@register(
    "heaps_dyadic_vocab_growth",
    oracle="""
WITH
""" + _SH3_CTE + """,
dsh AS (
  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tok
  FROM sh3 GROUP BY 1, 2
),
fo AS (
  SELECT source, shingle, min(doc_id) AS first_doc
  FROM sh3 GROUP BY 1, 2
),
nv AS (
  SELECT source, first_doc AS doc_id,
         CAST(count(*) AS BIGINT) AS n_new
  FROM fo GROUP BY 1, 2
),
cum AS (
  SELECT d.source, d.doc_id,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY d.doc_id) AS rn,
         CAST(SUM(d.n_tok) OVER (PARTITION BY d.source
                                 ORDER BY d.doc_id) AS BIGINT) AS cn,
         CAST(SUM(COALESCE(v.n_new, 0))
              OVER (PARTITION BY d.source
                    ORDER BY d.doc_id) AS BIGINT) AS cv
  FROM dsh d LEFT JOIN nv v
    ON v.source = d.source AND v.doc_id = d.doc_id
),
pt AS (
  SELECT source,
         CAST(length(bin(cn)) - 1 AS BIGINT) AS x,
         CAST(length(bin(cv)) - 1 AS BIGINT) AS y
  FROM cum
  WHERE (rn & (rn - 1)) = 0 AND cn > 0 AND cv > 0
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nb,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pt GROUP BY 1
),
fin AS (
  SELECT source,
         CAST(max(cn) AS BIGINT) AS total_shingles,
         CAST(max(cv) AS BIGINT) AS vocab_types
  FROM cum GROUP BY 1
)
SELECT m.source, m.nb AS n_checkpoints,
       f.total_shingles, f.vocab_types,
       CASE WHEN m.nb * m.sxx - m.sx * m.sx > 0
            THEN """ + _duck(_HEAPS_SLOPE) + """
       END AS heaps_beta_milli
FROM m JOIN fin f ON f.source = m.source
ORDER BY m.source
""",
    category="llm_text",
)
def heaps_dyadic_vocab_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HEAPS'-LAW type-token growth per source — V(n) ~ K·n^beta, the
    vocabulary-scaling exponent that predicts how many NEW types the
    next 10x of corpus brings (the sampling complement to
    zipf_dyadic_slope_by_source's frequency exponent; the two are
    linked as beta ~ 1/zipf_s). Types here are 3-token shingles (the
    word vocabulary of this corpus saturates in a handful of docs —
    shingle types keep growing, the regime Heaps describes). The fit
    runs ENTIRELY on the dyadic grid (the zipf doctrine): checkpoints
    at power-of-two doc prefixes (rn & (rn-1) = 0 — exact in both
    engines), x = floor(log2 cumulative-shingles), y = floor(log2
    cumulative-types) via length(bin(.))-1, slope = OLS Cramer ratio
    as a SIGN-SPLIT milli floor-division of exact int64 moments. New
    types per doc come from a min-doc_id first-occurrence rollup, so
    the cumulative distinct count is one window sum, never a per-prefix
    re-scan. Scale: one (source, shingle) shuffle for first
    occurrences, one doc-grain window, a <= ~12-point OLS per source."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _shingles3(F.col("text")).alias("sh")
    )
    exploded = docs.select(
        "source", "doc_id", F.explode("sh").alias("shingle")
    )
    dsh = exploded.groupBy("source", "doc_id").agg(
        F.count("*").alias("n_tok")
    )
    nv = (
        exploded.groupBy("source", "shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("source", "doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    wd = Window.partitionBy("source").orderBy("doc_id")
    cum = (
        dsh.join(nv, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.row_number().over(wd).alias("rn"),
            F.sum("n_tok").over(wd).alias("cn"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wd)
            .alias("cv"),
        )
    )
    pt = cum.filter(
        (F.expr("rn & (rn - 1)") == 0)
        & (F.col("cn") > 0)
        & (F.col("cv") > 0)
    ).select(
        "source",
        (F.length(F.bin("cn")) - 1).cast("long").alias("x"),
        (F.length(F.bin("cv")) - 1).cast("long").alias("y"),
    )
    m = pt.groupBy("source").agg(
        F.count("*").alias("nb"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    fin = cum.groupBy("source").agg(
        F.max("cn").alias("total_shingles"),
        F.max("cv").alias("vocab_types"),
    )
    return (
        m.join(fin, "source")
        .selectExpr(
            "source",
            "nb AS n_checkpoints",
            "total_shingles",
            "vocab_types",
            "CASE WHEN nb * sxx - sx * sx > 0 THEN "
            + _spark(_HEAPS_SLOPE)
            + " END AS heaps_beta_milli",
        )
        .orderBy("source")
    )


def _chi_cell(c: str, nside: str) -> str:
    """One chi-square cell term on the micro grid, valid in both
    dialects via {I}/{D}: (c*N - rw*n_side)^2 * 1e6 // (rw*n_side*N).
    The numerator is a square (non-negative), so truncating div and
    flooring // agree; rw > 0 on the union vocabulary."""
    d = f"({c} * ntot - rw * {nside})"
    return (
        f"CAST(CAST({d} AS {{I}}) * {d} * 1000000"
        f" {{D}} (CAST(rw AS {{I}}) * {nside} * ntot) AS BIGINT)"
    )


@register(
    "chi_square_homogeneity_sources",
    oracle="""
WITH
""" + _WC_CTE + """,
tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         row_number() OVER (ORDER BY SUM(c) DESC, source) AS rnk
  FROM wc GROUP BY 1
),
pair AS (
  SELECT max(CASE WHEN rnk = 1 THEN source END) AS sa,
         max(CASE WHEN rnk = 2 THEN source END) AS sb,
         CAST(max(CASE WHEN rnk = 1 THEN n END) AS BIGINT) AS na,
         CAST(max(CASE WHEN rnk = 2 THEN n END) AS BIGINT) AS nb
  FROM tot WHERE rnk <= 2
),
cells AS (
  SELECT w,
         CAST(SUM(CASE WHEN wc.source = p.sa THEN c ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN wc.source = p.sb THEN c ELSE 0 END)
              AS BIGINT) AS cb
  FROM wc, pair p
  WHERE wc.source IN (p.sa, p.sb)
  GROUP BY 1
),
t AS (
  SELECT """ + _duck(_chi_cell("ca", "na")) + """ AS ta,
         """ + _duck(_chi_cell("cb", "nb")) + """ AS tb
  FROM (SELECT ca, cb, ca + cb AS rw, p.na, p.nb,
               p.na + p.nb AS ntot
        FROM cells, pair p)
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(ta + tb) AS BIGINT) AS chi2_micro
  FROM t
)
SELECT p.sa AS source_a, p.sb AS source_b,
       p.na AS n_a, p.nb AS n_b,
       t.n_types, t.n_types - 1 AS df, t.chi2_micro
FROM terms t, pair p
""",
    category="llm_text",
)
def chi_square_homogeneity_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-SAMPLE CHI-SQUARE HOMOGENEITY between the token
    distributions of the two largest sources — "are these two corpora
    draws from the same token distribution?", the categorical
    counterpart of the value-domain KS/CvM/AD family and the exact
    test behind mixture re-weighting decisions. Unlike KL/JSD (whose
    logs are banned from hash-gated outputs), Pearson's X^2 is
    RATIONAL in the counts: each cell term (c - E)^2/E expands to
    (c*N - rw*n_side)^2 / (rw*n_side*N) over exact integers, floored
    once onto the micro grid per cell ({I} = HUGEINT/decimal(38,0);
    numerators are squares, so truncating div and flooring // agree)
    — ZERO floating-point anywhere, the sum is bit-exact by
    construction. Headroom: the per-cell numerator d^2 * 1e6 with
    |d| <= c*N needs c*N <= 1e16 for decimal(38,0) — guaranteed at
    ~1e8 two-source tokens even if one token is the whole corpus, and
    far beyond under any real (Zipfian, c << N) vocabulary; past that,
    drop the micro scale one notch per 100x. Scale: one (source, token) shuffle
    + a vocab-grain two-column pivot; the 2xV table never materializes
    wider than the vocabulary."""
    wc = _word_counts(spark, sf_dir)
    tot = wc.groupBy("source").agg(F.sum("c").alias("n"))
    rk = tot.select(
        "source",
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "source"))
        .alias("rnk"),
    ).filter(F.col("rnk") <= 2)
    pair = rk.agg(
        F.max(F.when(F.col("rnk") == 1, F.col("source"))).alias("sa"),
        F.max(F.when(F.col("rnk") == 2, F.col("source"))).alias("sb"),
        F.max(F.when(F.col("rnk") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("rnk") == 2, F.col("n"))).alias("nb"),
    )
    cells = (
        wc.join(
            F.broadcast(pair),
            (F.col("source") == F.col("sa"))
            | (F.col("source") == F.col("sb")),
        )
        .groupBy("w")
        .agg(
            F.max("sa").alias("sa"),
            F.max("sb").alias("sb"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.sum(
                F.when(F.col("source") == F.col("sa"), F.col("c"))
                .otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") == F.col("sb"), F.col("c"))
                .otherwise(0)
            ).alias("cb"),
        )
    )
    t = cells.selectExpr(
        "sa", "sb", "na", "nb", "ca", "cb",
        "ca + cb AS rw",
        "na + nb AS ntot",
    ).selectExpr(
        "sa",
        "sb",
        "na",
        "nb",
        f"{_spark(_chi_cell('ca', 'na'))} AS ta",
        f"{_spark(_chi_cell('cb', 'nb'))} AS tb",
    )
    return (
        t.groupBy("sa", "sb", "na", "nb")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(F.col("ta") + F.col("tb")).alias("chi2_micro"),
        )
        .selectExpr(
            "sa AS source_a",
            "sb AS source_b",
            "na AS n_a",
            "nb AS n_b",
            "n_types",
            "n_types - 1 AS df",
            "chi2_micro",
        )
    )


@register(
    "source_shingle_overlap_jaccard",
    oracle="""
WITH
""" + _SH3_CTE + """,
ssh AS (SELECT DISTINCT source, shingle FROM sh3),
card AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh
  FROM ssh GROUP BY 1
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM ssh a JOIN ssh b
    ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       ca.n_sh AS n_a, cb.n_sh AS n_b, i.n_common,
       CAST(CAST(i.n_common AS HUGEINT) * 1000000
            // (ca.n_sh + cb.n_sh - i.n_common) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN card ca ON ca.source = i.source_a
JOIN card cb ON cb.source = i.source_b
ORDER BY i.source_a, i.source_b
""",
    category="llm_dedup",
)
def source_shingle_overlap_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE SOURCE-LEVEL shingle-set Jaccard — the corpus-grain
    overlap matrix ("how much of source A is re-crawled in source B")
    that decides whether two feeds should be cross-deduped at all
    before any per-document LSH runs; document-grain dedup answers
    which docs collide, this answers which SOURCES do. Exact distinct
    3-shingle sets per source, one shingle-keyed equi-join for the
    intersection cardinalities (candidate fan-out per shingle bounded
    by the source count squared, never by docs), union by
    inclusion-exclusion, Jaccard as one exact ppm floor-division
    (non-negative, so // and div agree). Scale: the (source, shingle)
    distinct is the only data-grain shuffle; everything after is
    source-pair-grain (bounded)."""
    ssh = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(_shingles3(F.col("text"))).alias("shingle"))
        .distinct()
    )
    card = ssh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = ssh.alias("a")
    b = ssh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = card.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    cb = card.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .selectExpr(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            "CAST(CAST(n_common AS DECIMAL(38,0)) * 1000000"
            " div (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm",
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "split_ngram_coverage",
    oracle="""
WITH
""" + _SH3_CTE + """,
lab AS (
  SELECT doc_id,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 10) < 8 AS is_train
  FROM documents
),
tr AS (
  SELECT DISTINCT s.shingle
  FROM sh3 s JOIN lab l ON l.doc_id = s.doc_id
  WHERE l.is_train
),
va AS (
  SELECT DISTINCT s.source, s.shingle
  FROM sh3 s JOIN lab l ON l.doc_id = s.doc_id
  WHERE NOT l.is_train
)
SELECT va.source,
       CAST(count(*) AS BIGINT) AS n_val_grams,
       CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0
                     END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS coverage_ppm
FROM va LEFT JOIN tr ON tr.shingle = va.shingle
GROUP BY 1 ORDER BY 1
""",
    category="llm_curation",
)
def split_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/VAL N-GRAM COVERAGE — after an 80/20 deterministic
    doc-hash split (the md5-bucket idiom every split/sample query here
    uses), what fraction of the held-out side's distinct 3-grams
    already appears in train? High coverage = the val loss measures
    memorization-adjacent interpolation, not generalization — the
    leakage lens on split design that text_decontaminate applies to
    EXTERNAL eval sets, turned inward on the pipeline's own split
    (grouped_split_no_leakage guards keys; this measures residual
    CONTENT overlap that key-grouping cannot see). Exact distinct
    grams both sides, one gram-keyed left join, ppm floor-division.
    Scale: two distinct shuffles + one equi-join, all gram-keyed."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 10
            < 8
        ).alias("is_train"),
        F.explode(_shingles3(F.col("text"))).alias("shingle"),
    )
    tr = (
        lab.filter(F.col("is_train"))
        .select("shingle")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    va = (
        lab.filter(~F.col("is_train"))
        .select("source", "shingle")
        .distinct()
    )
    return (
        va.join(tr, "shingle", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_val_grams"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias(
                "n_covered"
            ),
        )
        .selectExpr(
            "source",
            "n_val_grams",
            "n_covered",
            "CAST(CAST(n_covered AS DECIMAL(38,0)) * 1000000"
            " div n_val_grams AS BIGINT) AS coverage_ppm",
        )
        .orderBy("source")
    )


@register(
    "source_doc_cap_filter",
    oracle="""
WITH rk AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn > 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN rn <= 50 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM rk GROUP BY 1 ORDER BY 1
""",
    category="llm_curation",
)
def source_doc_cap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE DOCUMENT CAP (the RefinedWeb/C4 "no domain may
    dominate" rule): rank docs within each source by quality proxy
    (n_chars desc, doc_id tie-break) and cap at 50, reporting
    kept/dropped/char-mass per source — the anti-skew gate that stops
    one crawler feed from being 90 % of an epoch. One rank window per
    source partition + conditional aggregation; at cluster scale the
    window is source-partitioned so the cap parallelizes across
    sources (and a skewed mega-source is exactly what the cap
    removes). Complements mix_source_weights (which re-weights what
    survives) and curate_top_half_by_source (median gate; this is a
    fixed-budget gate)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    rk = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    return (
        rk.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("rn") <= 50, 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.sum(F.when(F.col("rn") > 50, 1).otherwise(0)).alias(
                "n_dropped"
            ),
            F.sum(
                F.when(F.col("rn") <= 50, F.col("n_chars")).otherwise(0)
            ).alias("kept_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
WITH RECURSIVE """ + _TUNED_EST_CTES + """,
thr AS (SELECT CAST(unnest([500, 600, 700, 800, 900]) AS BIGINT) AS t_milli),
flt AS (
  SELECT thr.t_milli, e.id_a, e.id_b
  FROM tune_est e, thr
  WHERE e.est_jaccard >= CAST(thr.t_milli AS DOUBLE) / 1000.0
),
pairs_ct AS (
  SELECT t_milli, CAST(count(*) AS BIGINT) AS n_pairs
  FROM flt GROUP BY 1
),
docs_ct AS (
  SELECT t_milli, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT t_milli, id_a AS d FROM flt
        UNION ALL SELECT t_milli, id_b FROM flt)
  GROUP BY 1
)
SELECT thr.t_milli AS threshold_milli,
       COALESCE(p.n_pairs, 0) AS n_pairs,
       COALESCE(d.n_docs, 0) AS n_docs
FROM thr LEFT JOIN pairs_ct p ON p.t_milli = thr.t_milli
LEFT JOIN docs_ct d ON d.t_milli = thr.t_milli
ORDER BY thr.t_milli
""",
    category="llm_dedup",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP THRESHOLD SWEEP — the knob-tuning table every dedup
    rollout needs before committing a similarity cutoff: for each
    candidate threshold (0.5..0.9 on the milli grid), how many tuned
    LSH candidate pairs survive and how many documents they touch.
    n_docs is the upper bound on removals at that threshold (every
    dup cluster keeps one member), so the sweep reads directly as
    "corpus shrinkage vs aggressiveness" — the curve operators consult
    before picking the est-filter floor (BASELINE.md's documented
    candidate-cut direction for the election query). ONE pass over the
    tuned candidate pairs (threshold list broadcast-exploded, never a
    re-scan per threshold); the DuckDB oracle replays the full tuner
    decision + banding + sweep. Scale: the pair table is the data
    grain; per-threshold rollups are a 5x fan-out of it, all
    equi-keyed."""
    from spark_lever_spark.llm.dedup import (
        lsh_candidate_pairs,
        tune_lsh_banding,
    )

    docs = load_table(spark, sf_dir, "documents")
    b, _r = tune_lsh_banding(
        docs, k=32, dup_threshold=0.95, min_recall=0.9, max_docs=150
    )
    rel: list = []
    pairs = lsh_candidate_pairs(docs, k=32, bands=b, releases=rel)
    th = spark.range(5).selectExpr(
        "CAST(500 + id * 100 AS BIGINT) AS t_milli"
    )
    flt = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("est_jaccard")
        >= F.col("t_milli").cast("double") / F.lit(1000.0)
    )
    pairs_ct = flt.groupBy("t_milli").agg(F.count("*").alias("n_pairs"))
    docs_ct = (
        flt.select("t_milli", F.col("id_a").alias("d"))
        .unionAll(flt.select("t_milli", F.col("id_b").alias("d")))
        .groupBy("t_milli")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    out = (
        th.join(pairs_ct, "t_milli", "left")
        .join(docs_ct, "t_milli", "left")
        .selectExpr(
            "t_milli AS threshold_milli",
            "COALESCE(n_pairs, 0) AS n_pairs",
            "COALESCE(n_docs, 0) AS n_docs",
        )
        .orderBy("threshold_milli")
        # eager pin (5 rows), then release the LSH signature persist (r19)
        .localCheckpoint(eager=True)
    )
    for cached in rel:
        cached.unpersist()
    return out
