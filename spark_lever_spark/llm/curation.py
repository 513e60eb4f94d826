"""Corpus-curation operators: benchmark decontamination, held-out LM
novelty scoring, deterministic hash sampling, winnowing fingerprints.

These are the remaining standard stages of a large-scale training-data
pipeline (GPT-3 §5 / The Pile appendix-style decontamination, CCNet-
style LM quality partitioning, MOSS winnowing): each is expressed as a
pure built-in-expression DataFrame pipeline — md5/conv for engine-
portable hashing, higher-order array functions for per-doc n-gram work,
broadcast equi-joins for the corpus-level reference tables. Zero Python
UDFs; every hash is the md5-affine family replayed exactly by the
DuckDB oracles (('0x' || substr(md5(x), 1, n))::BIGINT).

Scale notes (the 100 TB shapes):
- decontamination joins exploded doc n-grams against a DISTINCT
  benchmark-gram table. Benchmarks are tiny relative to the corpus
  (thousands of eval docs vs billions of training docs), so the gram
  blocklist broadcasts and the scan-side work is map-only — the single
  groupBy(doc_id) afterwards is the only shuffle, and it carries
  (doc_id, int) pairs, never text.
- the held-out LM join is a plain equi-join on the bigram string; at
  real scale the count table exceeds broadcast range and becomes a
  shuffled hash join on a uniformly-distributed key — both sides
  already projected to (bigram, count) / (doc_id, bigram).
- hash-bucket sampling is a stateless filter: no shuffle, no seed
  coordination across executors, reproducible on any cluster layout —
  the property that makes it the standard way to cut a stable 1% of a
  100 TB corpus.
- winnowing is per-document array work (map-only, codegen'd); the
  fingerprint set per doc is O(tokens/window) longs.

Selection and leakage: train/val n-gram coverage, a per-source
document cap, greedy set-cover selection over 3-shingles, and a
Bloom-prefiltered n-gram decontamination audit (flagged vs exact hits,
realized false-positive load, no false negatives).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import checkpoint, load_table, pin
from spark_lever_spark.registry import register

# Benchmark membership and sampling use the same engine-portable affine
# hash family as llm/dedup.py: int(md5(x)[:n], 16).
_GRAM_N = 8          # decontamination n-gram length (tokens)
_BENCH_MOD = 20      # ~5% of docs act as the "eval benchmark" set
_WINNOW_K = 3        # winnowing k-gram (tokens)
_WINNOW_W = 4        # winnowing window (k-gram hashes per window)


def _md5_long(col, nhex: int):
    return F.conv(
        F.substring(F.md5(F.encode(col, "UTF-8")), 1, nhex), 16, 10
    ).cast("long")


def _token_ngrams(toks, n: int):
    """Array of space-joined n-grams of a token-array column (empty
    array when the doc has fewer than n tokens — guarded because Spark's
    sequence(1, 0) DESCENDS instead of being empty).

    ``toks`` MUST be a materialized array column, not a raw
    ``F.split(...)`` expression: subexpression elimination does not run
    inside higher-order-function lambdas, so an inline split would be
    re-evaluated per n-gram position (measured 8.7x slower at sf0.1).
    ``slice + array_join`` beats n ``element_at`` calls for the same
    reason — one array access per position instead of n."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "text_decontaminate",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % {_BENCH_MOD} = 0 AS is_benchmark,
         string_split(text, ' ') AS l
  FROM documents
),
grams AS (
  SELECT doc_id, is_benchmark,
         ('0x' || substr(md5(unnest(list_transform(
             range(1, greatest(len(l) - {_GRAM_N - 2}, 1)),
             i -> list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + {_GRAM_N - 1}],
                                 'string_agg', ' ')))), 1, 12))::BIGINT AS gh
  FROM base
),
blocklist AS (SELECT DISTINCT gh FROM grams WHERE is_benchmark),
hits AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(b.gh) AS BIGINT) AS n_hits
  FROM grams g LEFT JOIN blocklist b USING (gh)
  WHERE NOT g.is_benchmark
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_hits, n_hits > 0 AS contaminated
FROM hits ORDER BY doc_id
""",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-token n-gram with a held-out benchmark set (the GPT-3 / Pile
    decontamination op). Benchmark membership is hash-assigned (~5% of
    docs) so the query is self-contained and deterministic. The gram
    blocklist is DISTINCT-ed then broadcast — at 100 TB the benchmark
    side stays tiny, so the corpus scan is map-only and the lone
    shuffle carries (doc_id, long) pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("l"),
        (_md5_long(F.col("doc_id").cast("string"), 8) % _BENCH_MOD == 0).alias(
            "is_benchmark"
        ),
    )
    grams = docs.select(
        "doc_id",
        "is_benchmark",
        F.explode(_token_ngrams(F.col("l"), _GRAM_N)).alias("gram"),
    ).select("doc_id", "is_benchmark", _md5_long(F.col("gram"), 12).alias("gh"))
    blocklist = (
        grams.where("is_benchmark").select("gh").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.where(~F.col("is_benchmark"))
        .join(F.broadcast(blocklist), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bigram_novelty",
    oracle="""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_train, string_split(text, ' ') AS l
  FROM documents
),
big AS (
  SELECT doc_id, is_train,
         t.l[CAST(i.i AS INT)] || ' ' || t.l[CAST(i.i AS INT) + 1] AS bg
  FROM tok t, LATERAL (SELECT unnest(range(1, len(t.l))) AS i) i
),
lm AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c FROM big WHERE is_train GROUP BY bg
),
scored AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(count(*) FILTER (WHERE lm.c IS NULL) AS BIGINT) AS n_oov,
         CAST(coalesce(sum(lm.c), 0) AS BIGINT) AS sum_train_freq
  FROM big b LEFT JOIN lm USING (bg)
  WHERE NOT b.is_train
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, n_oov, sum_train_freq,
       CAST(n_oov AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS oov_rate,
       CAST(sum_train_freq AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
           AS avg_train_freq
FROM scored ORDER BY doc_id
""",
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality partitioning, exact-arithmetic form: train
    a bigram count model on half the corpus (doc_id % 2 = 0), score each
    held-out document's bigrams against it — out-of-vocabulary rate and
    average training-corpus frequency. High-OOV / low-frequency docs are
    the "novel or noisy" tail a curation pipeline routes to review.

    All statistics are exact integer sums with one final double
    division, so both engines produce bit-identical doubles (no
    float-accumulation-order divergence — the functions/exact.py
    doctrine). The LM table is (bigram, count): broadcastable here; at
    100 TB it becomes a shuffled hash join on the uniformly-distributed
    bigram key, with both sides pre-projected to two columns."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        F.split("text", " ").alias("l"),
    )
    big = tok.select(
        "doc_id",
        "is_train",
        F.explode(_token_ngrams(F.col("l"), 2)).alias("bg"),
    )
    lm = big.where("is_train").groupBy("bg").agg(F.count("*").alias("c"))
    return (
        big.where(~F.col("is_train"))
        .join(F.broadcast(lm), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count(F.when(F.col("c").isNull(), 1)).alias("n_oov"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("sum_train_freq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            "sum_train_freq",
            (
                F.col("n_oov").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("oov_rate"),
            (
                F.col("sum_train_freq").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("avg_train_freq"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_hash_bucket",
    oracle="""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
            AS INT) AS bucket
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 25
ORDER BY doc_id
""",
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling: keep documents whose
    md5(doc_id) bucket falls under the cut (25/100 here). Unlike seeded
    Bernoulli sampling, membership is a property of the ROW, not of the
    run — stable across engines, cluster layouts, retries, and corpus
    re-partitioning, which is why production pipelines cut stable eval
    slices of a 100 TB corpus this way. Stateless filter: no shuffle,
    pushdown-friendly, map-only."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (_md5_long(F.col("doc_id").cast("string"), 8) % 100).cast("int")
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < 25)
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint_winnow",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
kg AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(l) - {_WINNOW_K - 2}, 1)),
           i -> ('0x' || substr(md5(
                  list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + {_WINNOW_K - 1}],
                                 'string_agg', ' ')), 1, 10))::BIGINT
         ) AS h
  FROM tok
),
wins AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(h) - {_WINNOW_W - 2}, 2)),
           i -> list_min(h[CAST(i AS INT):CAST(i AS INT) + {_WINNOW_W - 1}])
         ) AS w
  FROM kg
),
fp AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(w, x -> x IS NOT NULL))) AS d
  FROM wins
)
SELECT doc_id,
       CAST(len(d) AS INT) AS n_fps,
       array_to_string(list_transform(d, x -> CAST(x AS VARCHAR)), ',') AS fps
FROM fp ORDER BY doc_id
""",
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: hash every 3-token k-gram,
    slide a window of 4 hashes, keep each window's minimum; the distinct
    minima are the document's fingerprint set (guaranteed to detect any
    shared run of k+w-1 = 6 tokens between two documents — the
    positional guarantee plain min-shingle fingerprints lack). Pure
    per-document array work: map-only, whole-stage-codegen, no shuffle;
    emitted as a sorted comma-joined string so the driver can hash it.

    Reference winnowing paper: Schleimer, Wilkerson, Aiken (SIGMOD'03).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    kgram_hashes = F.transform(
        _token_ngrams(F.col("l"), _WINNOW_K),
        lambda g: F.conv(F.substring(F.md5(F.encode(g, "UTF-8")), 1, 10), 16, 10)
        .cast("long"),
    )
    kg = docs.select("doc_id", kgram_hashes.alias("h"))
    wins = kg.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("h") - (_WINNOW_W - 1), F.lit(1)),
            ),
            lambda i: F.array_min(F.slice(F.col("h"), i, _WINNOW_W)),
        ).alias("w"),
    )
    fp = F.sort_array(
        F.array_distinct(F.filter(F.col("w"), lambda x: x.isNotNull()))
    )
    return wins.select(
        "doc_id",
        F.size(fp).alias("n_fps"),
        F.concat_ws(",", F.transform(fp, lambda x: x.cast("string"))).alias(
            "fps"
        ),
    ).orderBy("doc_id")


@register(
    "mix_source_weights",
    oracle="""
WITH per AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source, lang
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM per)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
           AS token_share,
       least(1.0,
             (CAST(1 AS DOUBLE) / CAST(n_groups AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
           AS sample_rate
FROM per, tot
ORDER BY source, lang
""",
)
def mix_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per (source, lang) token shares and the
    down-sampling rate that flattens the mix to a uniform target share
    (the knob a training pipeline turns to rebalance domains — DoReMi /
    The Pile-style mixture control, here with the uniform target).

    One groupBy carrying only counts, one scalar-aggregate broadcast
    back over the group rows — no row-level shuffle of text. All ratios
    are single double divisions of exact integer sums, so both engines
    produce bit-identical doubles."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_tok"),
    )
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_groups"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens").cast(
        "double"
    )
    target = F.lit(1).cast("double") / F.col("n_groups").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            F.least(F.lit(1.0), target / share).alias("sample_rate"),
        )
        .orderBy("source", "lang")
    )


@register(
    "pipeline_curate_sample_stats",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, source,
         string_split(text, ' ') AS l,
         len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
             AS n_tok,
         length(text) AS n_ch,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % {_BENCH_MOD} = 0 AS is_benchmark
  FROM documents
),
gated AS (
  SELECT * FROM tok
  WHERE n_tok BETWEEN 10 AND 100000
    AND CAST(n_ch AS DOUBLE) / n_tok < 12
),
grams AS (
  SELECT doc_id, is_benchmark,
         ('0x' || substr(md5(unnest(list_transform(
             range(1, greatest(len(l) - {_GRAM_N - 2}, 1)),
             i -> list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + {_GRAM_N - 1}],
                                 'string_agg', ' ')))), 1, 12))::BIGINT AS gh
  FROM tok
),
blocklist AS (SELECT DISTINCT gh FROM grams WHERE is_benchmark),
contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM grams g JOIN blocklist b USING (gh)
  WHERE NOT g.is_benchmark
),
clean AS (
  SELECT t.* FROM gated t
  LEFT JOIN contaminated c USING (doc_id)
  WHERE c.doc_id IS NULL AND NOT t.is_benchmark
),
sampled AS (
  SELECT * FROM clean
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 2, 8))::BIGINT % 100 < 50
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM sampled
GROUP BY lang, source
ORDER BY lang, source
""",
)
def pipeline_curate_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: quality gate → benchmark
    decontamination (drop any training doc sharing an 8-gram with the
    hash-assigned benchmark set) → deterministic 50% hash sample →
    per-(lang, source) corpus stats. The end-to-end shape a real
    pretraining data build runs; every stage is the registered operator
    it composes, so this query is the integration test of the family.

    Note the sampling hash reads md5 offset 2 so it is independent of
    the benchmark-membership hash (offset 1) — correlated hashes would
    silently bias the sample toward/away from benchmark-adjacent docs.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.split("text", " ").alias("l"),
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_tok"),
        F.length("text").alias("n_ch"),
        (_md5_long(F.col("doc_id").cast("string"), 8) % _BENCH_MOD == 0).alias(
            "is_benchmark"
        ),
    )
    gated = docs.where(
        F.col("n_tok").between(10, 100000)
        & (F.col("n_ch").cast("double") / F.col("n_tok") < 12)
    )
    grams = docs.select(
        "doc_id",
        "is_benchmark",
        F.explode(_token_ngrams(F.col("l"), _GRAM_N)).alias("gram"),
    ).select("doc_id", "is_benchmark", _md5_long(F.col("gram"), 12).alias("gh"))
    blocklist = grams.where("is_benchmark").select("gh").distinct()
    contaminated = (
        grams.where(~F.col("is_benchmark"))
        .join(F.broadcast(blocklist), "gh")
        .select("doc_id")
        .distinct()
    )
    sample_h = F.conv(
        F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 2, 8),
        16,
        10,
    ).cast("long")
    return (
        gated.where(~F.col("is_benchmark"))
        .join(contaminated, "doc_id", "left_anti")
        .where(sample_h % 100 < 50)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "source")
    )


_SPAN_N = 20         # exact-substring dedup span length (tokens)


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
spans AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(list_transform(
             range(1, greatest(len(l) - {_SPAN_N - 2}, 1)),
             i -> list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + {_SPAN_N - 1}],
                                 'string_agg', ' ')))), 1, 12))::BIGINT AS sh
  FROM tok
),
shared AS (
  SELECT sh FROM spans GROUP BY sh
  HAVING count(DISTINCT doc_id) > 1
),
per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(sh2.sh) AS BIGINT) AS n_dup_spans
  FROM spans s LEFT JOIN shared sh2 USING (sh)
  GROUP BY s.doc_id
)
SELECT doc_id, n_spans, n_dup_spans,
       CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_span_frac
FROM per_doc
WHERE n_spans > 0
ORDER BY doc_id
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr criterion, here at token granularity): for every
    document, the fraction of its 20-token spans that appear verbatim
    in at least one other document. A pipeline drops or trims documents
    above a dup_span_frac threshold.

    Distributed shape: span hashes (12-hex md5 = 48 bits) explode to
    (doc_id, long) pairs; one groupBy(sh) finds spans spanning >1 doc —
    a uniformly-hashed aggregation that replaces the suffix array of
    the paper (which is single-machine) with two shuffles of fixed-width
    longs, never text. The shared-span table is corpus-global state the
    same way the LSH band table is; both scale by key uniformity.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    spans = docs.select(
        "doc_id",
        F.explode(_token_ngrams(F.col("l"), _SPAN_N)).alias("gram"),
    ).select("doc_id", _md5_long(F.col("gram"), 12).alias("sh"))
    shared = (
        spans.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("sh")
        .withColumn("is_shared", F.lit(1))
    )
    return (
        spans.join(shared, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("is_shared").alias("n_dup_spans"),
        )
        .where(F.col("n_spans") > 0)
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_span_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "curate_top_half_by_source",
    oracle="""
WITH scored AS (
  SELECT doc_id, source,
         CAST(length(text) AS DOUBLE)
           / len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
           AS avg_tok_len
  FROM documents
),
med AS (
  SELECT source, median(avg_tok_len) AS med_score FROM scored GROUP BY source
)
SELECT s.doc_id, s.source,
       round(s.avg_tok_len * 10000) / 10000 AS avg_tok_len,
       round(m.med_score * 10000) / 10000 AS source_median
FROM scored s JOIN med m ON s.source = m.source
WHERE s.avg_tok_len <= m.med_score
ORDER BY s.doc_id
""",
)
def curate_top_half_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median-gated curation: keep each source's better
    half by a quality signal (here: mean token length, lower = less
    noisy on this corpus) — relative-to-domain gating instead of one
    global threshold, the standard guard against a single domain's
    distribution dominating the cut. Per-source medians are a tiny
    aggregate broadcast back; the gate is a map-side filter."""
    docs = load_table(spark, sf_dir, "documents")
    from spark_lever_spark.llm.textstats import token_count

    scored = docs.select(
        "doc_id",
        "source",
        (
            F.length("text").cast("double") / token_count(F.col("text"))
        ).alias("avg_tok_len"),
    )
    med = scored.groupBy("source").agg(
        F.median("avg_tok_len").alias("med_score")
    )
    return (
        scored.join(F.broadcast(med), "source")
        .filter(F.col("avg_tok_len") <= F.col("med_score"))
        .select(
            "doc_id",
            "source",
            (F.round(F.col("avg_tok_len") * 10000) / 10000).alias(
                "avg_tok_len"
            ),
            (F.round(F.col("med_score") * 10000) / 10000).alias(
                "source_median"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_token_budget",
    oracle="""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum
WHERE cum_tokens <= 2000
ORDER BY source, cum_tokens
""",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-capped corpus sampling: take documents per source
    in deterministic hash order until a 2000-token budget fills — how
    a mixture spec ('at most N tokens from source X') becomes an
    actual row set, reproducibly, with no RNG state. One window
    (running token sum per source) + a map-side cut; the hash order
    makes the selection independent of physical row order, so the
    result is identical across partitionings and engines."""
    docs = load_table(spark, sf_dir, "documents")
    from spark_lever_spark.llm.textstats import token_count

    toks = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    # source is LOW-cardinality: 2-pass the per-source running sum
    # over md5-prefix buckets (numeric prefix of the hex sort key is
    # monotone in it) so no task scans a whole source — grank doctrine
    from spark_lever_spark.operators.grank import with_grouped_cumsum

    cum = with_grouped_cumsum(
        toks,
        ["source"],
        F.conv(F.substring("rk", 1, 15), 16, 10).cast("long"),
        ["rk", "doc_id"],
        "n_tokens",
    )
    return (
        cum.withColumnRenamed("_cum", "cum_tokens")
        .filter(F.col("cum_tokens") <= 2000)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


@register(
    "sample_apply_mix_weights",
    oracle="""
WITH per AS (
  SELECT source, lang,
         CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source, lang
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM per),
rates AS (
  SELECT source, lang,
         least(1.0,
               (CAST(1 AS DOUBLE) / CAST(n_groups AS DOUBLE))
               / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
           AS rate
  FROM per, tot
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN rates r
  ON d.source = r.source AND d.lang = r.lang
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
      < r.rate * 10000
ORDER BY d.doc_id
""",
)
def sample_apply_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of domain rebalancing: turn mix_source_weights'
    per-(source, lang) down-sampling rates into an actual membership
    decision per document via a deterministic hash bucket — the same
    row-property membership rule as sample_hash_bucket, but with a
    per-group threshold. Rates are exact-integer-division doubles
    (bit-identical across engines), buckets are md5-derived integers,
    so the kept SET is reproducible anywhere — no RNG state, no
    resampling drift between engines or reruns. Rates broadcast; the
    gate is map-side."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_tok"),
    )
    per = docs.groupBy("source", "lang").agg(F.sum("n_tok").alias("n_tokens"))
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_groups"),
    )
    rates = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        F.least(
            F.lit(1.0),
            (F.lit(1.0) / F.col("n_groups"))
            / (
                F.col("n_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ),
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )
    return (
        docs.join(F.broadcast(rates), ["source", "lang"])
        .filter(bucket < F.col("rate") * 10000)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+1-555-[0-9]{4}"
_PII_IP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


@register(
    "text_pii_redact",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, source,
         'u' || CAST(doc_id AS VARCHAR) || '@ex'
           || CAST(doc_id % 10 AS VARCHAR) || '.com call +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.'
           || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           || CAST((doc_id * 7) % 256 AS VARCHAR) || ' ' || COALESCE(text, '') AS t
  FROM documents
),
red AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS emails,
         CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS phones,
         length(t) - length(
           regexp_replace(regexp_replace(regexp_replace(
             t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                '{_PII_PHONE}', '[PHONE]', 'g'),
                '{_PII_IP}', '[IP]', 'g')) AS chars_removed
  FROM raw
)
SELECT source, count(*) AS n_docs,
       CAST(SUM(emails) AS BIGINT) AS emails,
       CAST(SUM(phones) AS BIGINT) AS phones,
       CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
FROM red GROUP BY source ORDER BY source
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / phone numbers / IPv4 masked to
    typed placeholder tokens) — the scrub stage every production corpus
    runs before training. The synthetic corpus carries no organic PII,
    so each document is prefixed with a deterministic doc_id-derived
    contact line first; the redaction chain then runs over the full
    text. Pure regexp_replace/regexp_count built-ins — map-only over
    the corpus (zero pre-shuffle work at 100 TB; the tiny per-source
    rollup is the only exchange), patterns chosen to parse identically
    under Java regex and DuckDB's RE2."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".com call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" "),
            F.coalesce(F.col("text"), F.lit("")),
        ).alias("t"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IP,
        "[IP]",
    )
    red = raw.select(
        "source",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).cast("long").alias("emails"),
        F.regexp_count(F.col("t"), F.lit(_PII_PHONE)).cast("long").alias("phones"),
        (F.length("t") - F.length(redacted)).alias("chars_removed"),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("emails").alias("emails"),
            F.sum("phones").alias("phones"),
            F.sum("chars_removed").alias("chars_removed"),
        )
        .orderBy("source")
    )


@register(
    "split_train_val_test",
    oracle="""
WITH b AS (
  SELECT source,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % 100 AS bucket
  FROM documents
),
s AS (
  SELECT source,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT source, split, count(*) AS n_docs
FROM s GROUP BY source, split ORDER BY source, split
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split (80/10/10 by
    hash bucket, per source) — the assignment every training pipeline
    needs to be a ROW PROPERTY, not a sampling event: any engine, any
    cluster layout, any rerun puts the same document in the same split
    (the sample_hash_bucket doctrine extended to the standard 3-way
    protocol). Map-only; the per-source counts are the only shuffle,
    and leakage checks reduce to bucket arithmetic instead of set
    comparisons."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _md5_long(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 8
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


@register(
    "epoch_shuffle_order",
    oracle="""
WITH ranked AS (
  SELECT e.epoch, d.doc_id,
         row_number() OVER (
           PARTITION BY e.epoch
           ORDER BY md5('epoch' || CAST(e.epoch AS VARCHAR) || ':'
                        || CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS pos
  FROM documents d CROSS JOIN (SELECT unnest(range(1, 3)) AS epoch) e
)
SELECT CAST(epoch AS BIGINT) AS epoch, CAST(pos AS BIGINT) AS pos, doc_id
FROM ranked WHERE pos <= 20
ORDER BY epoch, pos
""",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle: epoch k's training order
    is a total order by md5('epoch{k}:' || doc_id) — different every
    epoch, identical on every rerun/engine/cluster layout, resumable
    from any position (the property RNG-seeded shuffles lose the
    moment partitioning changes). The head of each epoch's order is
    taken with orderBy().limit() — Spark's TakeOrdered computes
    per-partition top-k then merges k-sized heads, so the prefix costs
    O(k) per partition at any corpus size (a row_number window
    partitioned by epoch would funnel the WHOLE corpus through one
    task per epoch); a full-epoch materialization would instead be one
    range-partitioned sort by the same key. Checked on the first 20
    positions of two epochs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    heads = []
    for epoch in (1, 2):
        k = F.md5(
            F.encode(
                F.concat(
                    F.lit(f"epoch{epoch}:"), F.col("doc_id").cast("string")
                ),
                "UTF-8",
            )
        )
        heads.append(
            docs.select(F.lit(epoch).cast("long").alias("epoch"), "doc_id", k.alias("k"))
            .orderBy("k", "doc_id")
            .limit(20)
        )
    head = heads[0].unionByName(heads[1])
    # pos assignment runs on the tiny 2x20-row head, not the corpus
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        head.withColumn("pos", F.row_number().over(w).cast("long"))
        .select("epoch", "pos", "doc_id")
        .orderBy("epoch", "pos")
    )


@register(
    "temperature_sampling_rates",
    oracle="""
WITH per AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
ext AS (SELECT CAST(max(n_tokens) AS BIGINT) AS n_max,
               CAST(min(n_tokens) AS BIGINT) AS n_min FROM per)
SELECT source, n_tokens,
       sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(n_max AS DOUBLE))
           AS alpha_share_rel,
       sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_tokens AS DOUBLE))
           AS keep_rate,
       CAST(floor(CAST(n_tokens AS DOUBLE)
                  * (sqrt(CAST(n_min AS DOUBLE))
                     / sqrt(CAST(n_tokens AS DOUBLE)))) AS BIGINT)
           AS kept_tokens_est
FROM per, ext ORDER BY source
""",
)
def temperature_sampling_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling at alpha = 0.5 (the
    multilingual-LM standard: target share proportional to n^alpha, so
    small sources are boosted relative to their raw share — mBERT /
    XLM-R exponent-smoothed sampling; mix_source_weights' uniform
    target is the alpha -> 0 limit). Downsample-only formulation: the
    SMALLEST source anchors (keep_rate = sqrt(n_min/n_i) <= 1), every
    rate is a single division of two IEEE-exact sqrt values of exact
    integer token counts — sqrt is correctly rounded by the standard,
    so both engines hold bit-identical doubles with NO cross-engine
    transcendental drift (the reason alpha = 0.5 specifically is the
    oracle-checkable temperature). One count shuffle + a 2-row scalar
    broadcast; no text is re-shuffled."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_tok"),
    )
    per = docs.groupBy("source").agg(F.sum("n_tok").alias("n_tokens"))
    ext = per.agg(
        F.max("n_tokens").alias("n_max"), F.min("n_tokens").alias("n_min")
    )
    keep = F.sqrt(F.col("n_min").cast("double")) / F.sqrt(
        F.col("n_tokens").cast("double")
    )
    return (
        per.crossJoin(F.broadcast(ext))
        .select(
            "source",
            "n_tokens",
            (
                F.sqrt(F.col("n_tokens").cast("double"))
                / F.sqrt(F.col("n_max").cast("double"))
            ).alias("alpha_share_rel"),
            keep.alias("keep_rate"),
            F.floor(F.col("n_tokens").cast("double") * keep)
            .cast("long")
            .alias("kept_tokens_est"),
        )
        .orderBy("source")
    )


@register(
    "quality_quantile_normalize",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CASE WHEN n = 1 THEN 0.0
            ELSE round(CAST(rn - 1 AS DOUBLE) / (n - 1) * 1000000) / 1000000
       END AS qnorm
FROM ranked ORDER BY doc_id
""",
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score normalization: each document's score
    (n_chars as the stand-in quality signal) mapped to its
    within-source normalized rank in [0, 1] — the preprocessing step
    that makes per-source quality cuts comparable when sources have
    wildly different score distributions (a 0.9 from a clean source
    and a 0.9 from a noisy one mean different things; quantile
    normalization makes 0.9 mean "top decile of ITS source" for both).

    Scale shape: source cardinality is LOW (~20), so a bare
    partitionBy(source) ranked window would funnel whole sources
    through single tasks — instead the row number comes from the
    2-pass grouped cumsum (operators/grank.py, value = 1 ordered by
    (score, doc_id)), parallel across quantile bins within each
    source; per-source totals ride a broadcast count join. Exact
    integer ranks; one division at the end."""
    from spark_lever_spark.operators.grank import with_grouped_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    d = docs.withColumn("one", F.lit(1).cast("long"))
    cum = with_grouped_cumsum(
        d,
        ["source"],
        F.col("n_chars"),
        ["n_chars", "doc_id"],
        "one",
    )
    n_per = docs.groupBy("source").agg(F.count("*").alias("n"))
    return (
        cum.join(F.broadcast(n_per), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.col("_cum") - 1).cast("double")
                    / (F.col("n") - 1)
                    * 1000000
                )
                / 1000000
            )
            .alias("qnorm"),
        )
        .orderBy("doc_id")
    )


@register(
    "retrieval_rrf_fusion",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts
  FROM documents
),
phrase AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM toks, unnest(range(1, len(ts))) t(i)
  WHERE ts[i] = 'merge' AND ts[i + 1] = 'sort'
  GROUP BY doc_id
),
ra AS (
  SELECT doc_id, rank_a FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY n_hits DESC, doc_id) AS rank_a
    FROM phrase) WHERE rank_a <= 50
),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)
  WHERE w = 'merge' GROUP BY doc_id
),
rb AS (
  SELECT doc_id, rank_b FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY tf DESC, doc_id) AS rank_b
    FROM tf) WHERE rank_b <= 50
),
fused AS (
  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         ra.rank_a, rb.rank_b,
         coalesce(1.0 / (60 + ra.rank_a), 0)
         + coalesce(1.0 / (60 + rb.rank_b), 0) AS rrf_score
  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id
)
SELECT doc_id, CAST(rank_a AS BIGINT) AS rank_a,
       CAST(rank_b AS BIGINT) AS rank_b, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
""",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. '09, k = 60) of two
    retrieval rankings — the standard way hybrid search merges a
    lexical and a second signal without score calibration: ranker A =
    exact-phrase frequency ("merge sort", the positional-postings
    path of text_phrase_search_postings), ranker B = term frequency
    of "merge". Each ranker contributes its TOP-50 list (RRF is
    defined over bounded top-k lists — which is also what keeps the
    rank windows bounded: both ride aggregate-derived frames cut by
    TakeOrdered, never raw corpus rows); fused score =
    sum of 1/(60 + rank) over the lists containing the doc. Each term
    is ONE double division and the sum has exactly two addends, so
    the score is bit-identical cross-engine (no fold-order exposure).
    Absent-from-list contributes 0; final order (score desc, doc_id)
    is fully deterministic."""
    from spark_lever_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    p1 = post.filter(F.col("w") == "merge").select(
        "doc_id", F.col("pos").alias("pos1")
    )
    p2 = post.filter(F.col("w") == "sort").select(
        F.col("doc_id").alias("doc2"), F.col("pos").alias("pos2")
    )
    phrase = (
        p1.join(
            p2,
            (F.col("doc2") == F.col("doc_id"))
            & (F.col("pos2") == F.col("pos1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    ra = (
        phrase.orderBy(F.desc("n_hits"), "doc_id")
        .limit(50)
        .withColumn(
            "rank_a",
            F.row_number().over(
                Window.orderBy(F.desc("n_hits"), "doc_id")
            ),
        )
        .select("doc_id", "rank_a")
    )
    tf = (
        post.filter(F.col("w") == "merge")
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
    )
    rb = (
        tf.orderBy(F.desc("tf"), "doc_id")
        .limit(50)
        .withColumn(
            "rank_b",
            F.row_number().over(Window.orderBy(F.desc("tf"), "doc_id")),
        )
        .select(F.col("doc_id").alias("doc_b"), "rank_b")
    )
    fused = ra.join(rb, F.col("doc_b") == F.col("doc_id"), "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("doc_b")).alias("doc_id"),
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        (
            F.coalesce(1.0 / (60 + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


@register(
    "grouped_split_no_leakage",
    oracle="""
WITH assigned AS (
  SELECT user_id, event_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 10 < 8 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM events
),
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaky_users FROM (
    SELECT user_id FROM assigned GROUP BY user_id
    HAVING count(DISTINCT split) > 1
  )
)
SELECT a.split,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       l.n_leaky_users
FROM assigned a, leak l
GROUP BY a.split, l.n_leaky_users
ORDER BY split
""",
)
def grouped_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-consistent train/val/test split + leakage audit — the
    eval-hygiene primitive for user-generated training data: the split
    is a pure function of the GROUP key (md5(user_id) mod 10 ->
    8/1/1), never of the row, so every event of a user lands in one
    split and the held-out sets stay statistically independent of
    training users. The audit half RE-DERIVES leakage from the
    assigned rows (users spanning >1 split) rather than trusting the
    rule — exactly the check that catches the classic bug of splitting
    on a row-level hash (event_id) where a user's history straddles
    the boundary. md5-derived bucketing is the repo's sanctioned
    determinism (replayed exactly in SQL); counts are exact; the
    audit is one user-keyed aggregate — everything row-property or
    aggregate-domain at 100 TB. Both output halves (split sizes,
    leakage) derive from ONE persisted (user, split) aggregate so the
    raw event scan happens once, not once per consumer (Catalyst does
    not dedupe common subplans)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    b = _md5_long(F.col("user_id").cast("string"), 8) % 10
    assigned = ev.withColumn(
        "split",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test"),
    )
    ua = pin(assigned.groupBy("user_id", "split").agg(F.count("*").alias("n_events")))
    leak = (
        ua.groupBy("user_id")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("n_leaky_users"))
    )
    # eager pin (3 rows)
    return checkpoint(
        ua.groupBy("split")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_events").alias("n_events"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_users", "n_events", "n_leaky_users")
        .orderBy("split")
    )


@register(
    "stratified_balance_report",
    oracle="""
WITH g AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS nd,
         CAST(sum(n_chars) AS BIGINT) AS nc
  FROM g
)
SELECT g.source, g.lang, g.n_docs, g.n_chars,
       CAST((g.n_docs * 1000000) // t.nd AS BIGINT) AS doc_share_ppm,
       CAST((g.n_chars * 1000000) // t.nc AS BIGINT) AS char_share_ppm
FROM g, tot t
ORDER BY source, lang
""",
)
def stratified_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification balance telemetry — the mix report every corpus
    curation loop reads before adjusting sampling weights: per
    (source, lang) cell, document and character counts plus each
    cell's share of the corpus in EXACT parts-per-million (integer
    (n*10^6) div N — a float share can round differently per engine
    and ppm is what mix dashboards store anyway). One aggregate-domain
    group-by + a 1-row total broadcast; at 100 TB the report is
    |sources|x|langs| rows from a single scan. Feeds
    mix_source_weights / sample_apply_mix_weights (the knobs this
    report exists to tune)."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    tot = g.agg(
        F.sum("n_docs").alias("nd"), F.sum("n_chars").alias("nc")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            F.expr("(n_docs * 1000000) div nd").alias("doc_share_ppm"),
            F.expr("(n_chars * 1000000) div nc").alias("char_share_ppm"),
        )
        .orderBy("source", "lang")
    )


@register(
    "weighted_sample_units",
    oracle="""
WITH w AS (
  SELECT o_orderkey,
         1 + least(25, CAST(round(o_totalprice * 100) AS BIGINT)
                       // 2000000) AS wt
  FROM orders
),
tickets AS (
  SELECT o_orderkey, wt,
         min(md5(CAST(o_orderkey AS VARCHAR) || ':'
                 || CAST(u.unit AS VARCHAR))) AS ticket
  FROM w, LATERAL (SELECT unnest(range(1, wt + 1)) AS unit) u
  GROUP BY o_orderkey, wt
)
SELECT o_orderkey, CAST(wt AS BIGINT) AS weight, ticket
FROM tickets
ORDER BY ticket, o_orderkey
LIMIT 100
""",
)
def weighted_sample_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement by unit-hash
    races — the exactly-replayable cousin of A-ES exponential-jump
    sampling (Efraimidis & Spirtakis 2006): give each row
    ``w`` integer lottery units, hash every unit with md5, and let
    the row's ticket be its MINIMUM unit hash; the global bottom-k
    tickets are the sample. A row with twice the units has twice the
    chances at the record-low hash, so inclusion probability rises
    with weight (the min-of-w-uniforms race), yet selection is a pure
    row property — no RNG state, re-runs and backfills reproduce the
    identical sample, and DuckDB replays it hash-for-hash (md5 is the
    house's only sanctioned randomness; the A-ES ``u^(1/w)`` key
    needs pow/ln, which the exactness doctrine bans from ranked
    outputs). Shapes: explode fan-out is capped at 26 units (a
    constant, not a data size), min-ticket is a map-side-combinable
    agg, and the bottom-100 is a TakeOrdered — no global sort ever
    materializes at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        (
            1
            + F.least(
                F.lit(25),
                F.expr(
                    "CAST(round(o_totalprice * 100) AS BIGINT) div 2000000"
                ),
            )
        ).alias("wt"),
    )
    units = w.select(
        "o_orderkey",
        "wt",
        F.explode(F.sequence(F.lit(1), F.col("wt"))).alias("unit"),
    )
    tickets = (
        units.select(
            "o_orderkey",
            "wt",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("unit").cast("string"),
                ).cast("binary")
            ).alias("h"),
        )
        .groupBy("o_orderkey", "wt")
        .agg(F.min("h").alias("ticket"))
    )
    return (
        tickets.select(
            "o_orderkey", F.col("wt").cast("long").alias("weight"), "ticket"
        )
        .orderBy("ticket", "o_orderkey")
        .limit(100)
    )


@register(
    "stratified_kfold_assignment",
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment AS stratum, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
         ) AS rn
  FROM customer
),
assign AS (
  SELECT stratum, c_custkey, (rn - 1) % 5 AS fold FROM ranked
)
SELECT stratum, CAST(fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key
FROM assign GROUP BY stratum, fold ORDER BY stratum, fold
""",
)
def stratified_kfold_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED k-fold cross-validation assignment (k = 5): within
    every stratum, rows are ranked by their md5 row-hash (the
    sanctioned determinism source — re-runs reproduce identical
    folds) and dealt round-robin, so each stratum's folds are
    EXACTLY balanced (sizes differ by at most 1 — the guarantee
    percentage-hash splits like sample_hash_bucket cannot make,
    since binomial noise skews small strata). Completes the ML-split
    family: split_train_val_test is one partition, grouped_split adds
    group consistency, this yields all k rotation folds at once.
    Shape: one stratum-keyed rank window then a (stratum, fold)
    rollup; the published audit (counts + key ranges) is
    aggregate-domain. At 100 TB the stratum partition is the only
    shuffle and the window is a streaming rank, not a sort-collect."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string").cast("binary")), "c_custkey"
    )
    assign = cust.select(
        F.col("c_mktsegment").alias("stratum"),
        "c_custkey",
        ((F.row_number().over(w) - 1) % 5).alias("fold"),
    )
    return (
        assign.groupBy("stratum", F.col("fold").cast("long").alias("fold"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("stratum", "fold")
    )


@register(
    "epoch_sample_overlap_audit",
    oracle="""
WITH flags AS (
  SELECT doc_id,
         CAST(substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 4)
              AS VARCHAR) < '2000' AS in_ep1,
         CAST(substr(md5('ep2:' || CAST(doc_id AS VARCHAR)), 1, 4)
              AS VARCHAR) < '2000' AS in_ep2
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN in_ep1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ep1,
       CAST(SUM(CASE WHEN in_ep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ep2,
       CAST(SUM(CASE WHEN in_ep1 AND in_ep2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN in_ep1 AND in_ep2 THEN 1 ELSE 0 END)
            * 1000000 // SUM(CASE WHEN in_ep1 THEN 1 ELSE 0 END)
            AS BIGINT) AS overlap_ppm
FROM flags
""",
)
def epoch_sample_overlap_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INDEPENDENCE audit for epoch-keyed hash sampling: draw the same
    1/8 subsample under two different epoch salts and measure their
    overlap — if the per-epoch md5 keys really behave independently,
    overlap/|S1| concentrates near the 12.5% sampling rate; overlap
    near 100% would mean the salt fails to decorrelate epochs (the
    bug where every epoch trains on the SAME subset while claiming
    fresh draws — silent and catastrophic for multi-epoch training).
    Membership is the first-4-hex-digits < 0x2000 row property
    (exactly 1/8 of the 16^4 space), replayed verbatim in SQL; the
    audit is one map-only scan into five exact counters."""
    docs = load_table(spark, sf_dir, "documents")

    def member(salt: str):
        return (
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"),
                        F.col("doc_id").cast("string"),
                    ).cast("binary")
                ),
                1,
                4,
            )
            < "2000"
        )

    flags = docs.select(
        member("ep1").alias("in_ep1"), member("ep2").alias("in_ep2")
    )
    return flags.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("in_ep1"), 1).otherwise(0)).alias("n_ep1"),
        F.sum(F.when(F.col("in_ep2"), 1).otherwise(0)).alias("n_ep2"),
        F.sum(
            F.when(F.col("in_ep1") & F.col("in_ep2"), 1).otherwise(0)
        ).alias("n_both"),
    ).select(
        "n_docs",
        "n_ep1",
        "n_ep2",
        "n_both",
        F.expr("n_both * 1000000 div n_ep1").alias("overlap_ppm"),
    )


@register(
    "target_encode_mktsegment",
    oracle="""
WITH joined AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS target
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
g AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(target) AS BIGINT) AS s
  FROM joined GROUP BY segment
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss
  FROM g
)
SELECT g.segment, g.n AS n_orders,
       round(CAST(g.s AS DOUBLE) / g.n * 1000000) / 1000000
           AS raw_mean_cents,
       round((CAST(g.s AS DOUBLE)
              + 100.0 * (CAST(tot.ss AS DOUBLE) / tot.nn))
             / (g.n + 100) * 1000000) / 1000000 AS encoded_cents,
       g.n * 1000000 // (g.n + 100) AS shrink_ppm
FROM g CROSS JOIN tot ORDER BY g.segment
""",
)
def target_encode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOOTHED TARGET ENCODING (m-estimate, m=100) of the customer
    market segment against order value — the feature-engineering
    primitive every tabular-ML training pipeline applies to
    high-cardinality categoricals before gradient boosting:
    enc(seg) = (Σ target + m·global_mean) / (n + m), shrinking rare
    categories toward the prior. Computed from exact int64 cent sums
    via a FIXED-SHAPE IEEE tree (global mean = one division of two
    exact int64s; one multiply; one add of two known-order doubles;
    one final division) — deliberately NOT the int64 cross-product
    form (S_seg·N overflows int64 at 100 TB); this shape is
    bit-identical cross-engine at any SF. The category aggregate
    (5 segments) is the only thing that leaves the fact scan; the
    global prior joins back as a 1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("s"),
        )
    )
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss")
    )
    mu = F.col("ss").cast("double") / F.col("nn")
    enc = (F.col("s").cast("double") + 100.0 * mu) / (F.col("n") + 100)
    return (
        g.join(F.broadcast(tot))
        .select(
            "segment",
            F.col("n").alias("n_orders"),
            (
                F.round(F.col("s").cast("double") / F.col("n") * 1000000)
                / 1000000
            ).alias("raw_mean_cents"),
            (F.round(enc * 1000000) / 1000000).alias("encoded_cents"),
            F.expr("n * 1000000 div (n + 100)").alias("shrink_ppm"),
        )
        .orderBy("segment")
    )


# Fellegi-Sunter field parameters as exact rationals (numerator /
# denominator): m = P(field agrees | pair is a match), u = P(agrees |
# non-match). Shared by the Spark side and the oracle via the
# generated CASE expressions below — single source.
_FS_FIELDS = (
    # (flag column, m_num, m_den, u_num, u_den)
    ("f_source", 9, 10, 1, 20),
    ("f_nchars", 8, 10, 1, 100),
    ("f_tokband", 95, 100, 1, 10),
    ("f_md5char", 99, 100, 1, 16),
)


def _fs_weight_exprs() -> tuple[str, str]:
    """(numerator, denominator) SQL products of the per-field
    likelihood ratios: agree -> m/u, disagree -> (1-m)/(1-u), each as
    integer cross-products so the pattern weight is an exact
    fraction."""
    nums, dens = [], []
    for i, (col, mn, md, un, ud) in enumerate(_FS_FIELDS):
        # widen the leading factor so the 4-way literal product never
        # runs in INT32 (DuckDB folds small literals narrow)
        wrap = (
            (lambda s: f"CAST({s} AS BIGINT)") if i == 0 else (lambda s: s)
        )
        nums.append(
            wrap(
                f"(CASE WHEN {col} = 1 THEN {mn * ud}"
                f" ELSE {(md - mn) * ud} END)"
            )
        )
        dens.append(
            wrap(
                f"(CASE WHEN {col} = 1 THEN {md * un}"
                f" ELSE {md * (ud - un)} END)"
            )
        )
    return " * ".join(nums), " * ".join(dens)


@register(
    "fellegi_sunter_weight_table",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, lang, n_chars,
         len(list_filter(string_split_regex(text, '\\s+'),
                         w -> w <> '')) AS n_tok,
         substr(md5(text), 1, 1) AS h1
  FROM documents
),
pairs AS (
  SELECT CAST(CASE WHEN a.source = b.source THEN 1 ELSE 0 END
              AS BIGINT) AS f_source,
         CAST(CASE WHEN a.n_chars = b.n_chars THEN 1 ELSE 0 END
              AS BIGINT) AS f_nchars,
         CAST(CASE WHEN a.n_tok // 10 = b.n_tok // 10 THEN 1 ELSE 0
              END AS BIGINT) AS f_tokband,
         CAST(CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END
              AS BIGINT) AS f_md5char
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.n_chars // 50 = b.n_chars // 50
   AND a.doc_id < b.doc_id
),
pat AS (
  SELECT f_source, f_nchars, f_tokband, f_md5char,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1, 2, 3, 4
)
SELECT f_source, f_nchars, f_tokband, f_md5char, n_pairs,
       CAST(CAST({_fs_weight_exprs()[0]} AS HUGEINT) * 1000
            // ({_fs_weight_exprs()[1]}) AS BIGINT) AS weight_milli,
       CASE WHEN ({_fs_weight_exprs()[0]})
                 >= 100 * ({_fs_weight_exprs()[1]}) THEN 'match'
            WHEN ({_fs_weight_exprs()[0]})
                 >= ({_fs_weight_exprs()[1]}) THEN 'possible'
            ELSE 'nonmatch' END AS decision
FROM pat
ORDER BY weight_milli DESC, f_source, f_nchars, f_tokband, f_md5char
""",
)
def fellegi_sunter_weight_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FELLEGI-SUNTER record-linkage weight table (the 1969
    probabilistic-matching framework every production entity-resolution
    system — Splink, dedupe.io, census linkage — is built on): blocked
    candidate pairs are compared on 4 fields of very different
    discriminating power (source, exact length, token-count band,
    md5-prefix), every pair maps to one of the 2⁴ agreement PATTERNS,
    and each pattern's weight is the likelihood ratio
    Π agree? m_i/u_i : (1−m_i)/(1−u_i) — here with the m/u parameters
    as fixed exact rationals, so the whole weight is ONE exact integer
    fraction (cross-multiplied numerator/denominator products ≤ ~10⁹ —
    int64-safe; published on the milli grid) and the match /
    possible / nonmatch decision thresholds (ratio ≥ 100, ≥ 1) are
    pure integer comparisons. This is the weighting layer that
    upgrades entity_resolution_clusters' boolean rules; rule-grain
    output (≤16 rows, the table a linkage analyst actually reviews)
    keeps it bounded at any corpus size. Scale: blocking on
    (lang, length-band) caps the self-join (the
    sorted-neighborhood/LSH doctrine); the pattern rollup is
    map-side combinable."""
    from spark_lever_spark.llm.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 1).alias(
            "h1"
        ),
    )
    a = d.alias("a")
    b = d.select(
        F.col("doc_id").alias("bid"),
        F.col("source").alias("bsource"),
        F.col("lang").alias("blang"),
        F.col("n_chars").alias("bnc"),
        F.col("n_tok").alias("bnt"),
        F.col("h1").alias("bh1"),
    )
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("blang"))
        & (F.expr("a.n_chars div 50") == F.expr("bnc div 50"))
        & (F.col("a.doc_id") < F.col("bid")),
    ).select(
        F.when(F.col("a.source") == F.col("bsource"), 1)
        .otherwise(0)
        .cast("long")
        .alias("f_source"),
        F.when(F.col("a.n_chars") == F.col("bnc"), 1)
        .otherwise(0)
        .cast("long")
        .alias("f_nchars"),
        F.when(F.expr("a.n_tok div 10") == F.expr("bnt div 10"), 1)
        .otherwise(0)
        .cast("long")
        .alias("f_tokband"),
        F.when(F.col("a.h1") == F.col("bh1"), 1)
        .otherwise(0)
        .cast("long")
        .alias("f_md5char"),
    )
    pat = pairs.groupBy(
        "f_source", "f_nchars", "f_tokband", "f_md5char"
    ).agg(F.count("*").alias("n_pairs"))
    num, den = _fs_weight_exprs()
    return pat.select(
        "f_source",
        "f_nchars",
        "f_tokband",
        "f_md5char",
        "n_pairs",
        F.expr(
            f"CAST(CAST({num} AS DECIMAL(38,0)) * 1000 div ({den})"
            " AS BIGINT)"
        ).alias("weight_milli"),
        F.expr(
            f"CASE WHEN ({num}) >= 100 * ({den}) THEN 'match'"
            f" WHEN ({num}) >= ({den}) THEN 'possible'"
            " ELSE 'nonmatch' END"
        ).alias("decision"),
    ).orderBy(
        F.desc("weight_milli"),
        "f_source",
        "f_nchars",
        "f_tokband",
        "f_md5char",
    )


# ---------------------------------------------------------------------------
# Held-out n-gram coverage and per-source document caps
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Submodular greedy corpus selection (set cover over 3-shingles)
# ---------------------------------------------------------------------------

_GREEDY_K = 6


def _greedy_cover_oracle() -> str:
    """Unrolled greedy set-cover oracle: round r picks the not-yet-
    selected doc with the maximum count of 3-shingles not covered by
    rounds 1..r-1 (ties -> min doc_id; docs whose shingles are all
    covered count 0)."""
    ctes = [
        "WITH "
        + _SH3_CTE.strip().lstrip("WITH").strip()
        + """,
sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh3),
docs0 AS MATERIALIZED (SELECT DISTINCT doc_id FROM sh),
g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM sh GROUP BY 1),
p1 AS (SELECT doc_id, g FROM g1 ORDER BY g DESC, doc_id LIMIT 1),
c1 AS (SELECT DISTINCT shingle FROM sh
       WHERE doc_id IN (SELECT doc_id FROM p1))"""
    ]
    for r in range(2, _GREEDY_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT doc_id FROM p{i}" for i in range(1, r)
        )
        ctes.append(f"""g{r} AS (
  SELECT d.doc_id, CAST(coalesce(x.g, 0) AS BIGINT) AS g
  FROM (SELECT doc_id FROM docs0
        WHERE doc_id NOT IN ({prev_sel})) d
  LEFT JOIN (SELECT doc_id, count(*) AS g FROM sh
             WHERE shingle NOT IN (SELECT shingle FROM c{r - 1})
             GROUP BY 1) x ON x.doc_id = d.doc_id
),
p{r} AS (SELECT doc_id, g FROM g{r} ORDER BY g DESC, doc_id LIMIT 1),
c{r} AS (SELECT shingle FROM c{r - 1}
         UNION
         SELECT shingle FROM sh
         WHERE doc_id IN (SELECT doc_id FROM p{r}))""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS selection_rank, doc_id, g AS gain,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM c{r}) AS covered_cum"
        f" FROM p{r}"
        for r in range(1, _GREEDY_K + 1)
    )
    return ",\n".join(ctes) + f"\n{finals}\nORDER BY selection_rank"


@register(
    "greedy_coverage_doc_selection",
    oracle=_greedy_cover_oracle(),
)
def greedy_coverage_doc_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GREEDY SUBMODULAR CORPUS SELECTION (lazy-greedy set cover over
    3-token shingles): round r selects the document with the largest
    MARGINAL vocabulary coverage — the facility-location/coverage
    objective behind data-subset-selection pipelines (pick the few
    docs that span the corpus's n-gram space for eval seeds or dedup
    anchors). Deterministic tie-break: max gain, then min doc_id; a
    doc whose shingles are fully covered counts 0 and stays eligible.
    K=6 fixed rounds. Scale shape: the shingle table is computed ONCE
    and persisted; each round is one anti-join against the (bounded,
    <= K docs' shingles) covered set — broadcast-sized by construction
    — plus one count aggregation; the per-round argmax is a 1-row
    TakeOrdered. Driver materializes exactly K result rows."""
    docs = load_table(spark, sf_dir, "documents")
    # Bound the cached partition count to the session's real
    # parallelism: a 200-partition vanilla-session distinct otherwise
    # caches 200 slivers and every one of the K rounds' stages pays a
    # 200-task scheduling storm (measured 65 s -> ~15 s at sf0.01).
    par = spark.sparkContext.defaultParallelism
    doc_sh = pin(
        docs.select(
            "doc_id", F.explode(_shingles3(F.col("text"))).alias("shingle")
        )
        .distinct()
        .coalesce(par)
    )
    selected: list[int] = []
    rows = []
    cum = 0
    for r in range(1, _GREEDY_K + 1):
        cand_sh = doc_sh
        if selected:
            cand_sh = cand_sh.filter(~F.col("doc_id").isin(selected))
            covered = (
                doc_sh.filter(F.col("doc_id").isin(selected))
                .select("shingle")
                .distinct()
            )
            cand_sh = cand_sh.join(
                F.broadcast(covered), "shingle", "left_anti"
            )
        top_rows = (
            cand_sh.groupBy("doc_id")
            .agg(F.count("*").alias("g"))
            .orderBy(F.desc("g"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if top_rows and int(top_rows[0]["g"]) > 0:
            doc_id, gain = int(top_rows[0]["doc_id"]), int(top_rows[0]["g"])
        else:
            # every remaining doc is fully covered: the greedy argmax
            # degenerates to gain 0, min remaining doc_id (the oracle's
            # coalesce(0) grid keeps those docs eligible)
            doc_id = int(
                doc_sh.select("doc_id")
                .distinct()
                .filter(~F.col("doc_id").isin(selected))
                .agg(F.min("doc_id"))
                .collect()[0][0]
            )
            gain = 0
        selected.append(doc_id)
        # marginal gain counts exactly the newly covered shingles, so
        # the cumulative coverage is the running gain sum — no extra
        # count action per round
        cum += gain
        rows.append((r, doc_id, gain, cum))
    return spark.createDataFrame(
        rows,
        "selection_rank int, doc_id long, gain long, covered_cum long",
    ).orderBy("selection_rank")


# ---------------------------------------------------------------------------
# Bloom-prefiltered n-gram decontamination audit
# ---------------------------------------------------------------------------

_NGRAM = 5  # word n-gram width (long enough that cross-doc hits mean
# contamination, short enough that the synthetic corpus has real hits)
_BITS_PER_GRAM = 16  # m = 16 x distinct eval grams -> fill ~0.12 at
# k = 2, theoretical fp ~1.4 % at ANY corpus scale (m tracks the eval
# set, which is what a production decontamination filter sizes against)


def _md5_pos(col: Column, tag: str, m: Column) -> Column:
    """Deterministic Bloom probe position: 48-bit integer from a tagged
    md5 prefix, modulo the filter size. Identical in DuckDB as
    ``('0x' || substr(md5('tag:' || g), 1, 12))::BIGINT % m``."""
    return F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.lit(tag + ":"), col), "UTF-8")), 1, 12
        ),
        16,
        10,
    ).cast("long") % m


def _word_ngrams(toks: Column, n: int) -> Column:
    """All word ``n``-grams of a token array, in position order (empty
    when the document is shorter than ``n`` tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "decontaminate_bloom_ngram_audit",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks, doc_id % 10 = 7 AS is_eval
  FROM documents
),
grams AS (
  SELECT doc_id, is_eval,
         array_to_string(toks[CAST(i AS BIGINT):CAST(i + {_NGRAM} - 1 AS BIGINT)],
                         ' ') AS g
  FROM d, LATERAL unnest(range(1, len(toks) - {_NGRAM} + 2)) t(i)
),
ev AS (SELECT DISTINCT g FROM grams WHERE is_eval),
m AS (SELECT {_BITS_PER_GRAM} * count(*) AS m FROM ev),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT ('0x' || substr(md5('b1:' || g), 1, 12))::BIGINT % m.m AS pos
    FROM ev, m
    UNION ALL
    SELECT ('0x' || substr(md5('b2:' || g), 1, 12))::BIGINT % m.m
    FROM ev, m
  )
),
corp AS (
  SELECT doc_id, g,
         ('0x' || substr(md5('b1:' || g), 1, 12))::BIGINT % m.m AS p1,
         ('0x' || substr(md5('b2:' || g), 1, 12))::BIGINT % m.m AS p2
  FROM grams, m WHERE NOT is_eval
),
probed AS (
  SELECT doc_id, g,
         (p1 IN (SELECT pos FROM bits)
          AND p2 IN (SELECT pos FROM bits)) AS flagged,
         g IN (SELECT g FROM ev) AS hit
  FROM corp
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval_grams,
  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
  CAST(count(*) AS BIGINT) AS n_corpus_grams,
  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits,
  CAST(sum(CASE WHEN flagged AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos,
  CAST(sum(CASE WHEN hit AND NOT flagged THEN 1 ELSE 0 END) AS BIGINT)
    AS n_missed,
  CAST(count(DISTINCT CASE WHEN flagged THEN doc_id END) AS BIGINT)
    AS n_docs_flagged,
  CAST(count(DISTINCT CASE WHEN hit THEN doc_id END) AS BIGINT)
    AS n_docs_contaminated
FROM probed
""",
)
def decontaminate_bloom_ngram_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audit of a Bloom-prefiltered n-gram decontamination pass.

    Eval split = ``doc_id % 10 == 7``; its distinct word 5-grams seed a
    Bloom filter (k = 2 md5-derived probes into m = 16 x |eval grams|
    bits — the md5 family, unlike the xxhash64 runtime filters in
    operators/bloom.py, is replayable in the DuckDB oracle). Every
    corpus (non-eval) n-gram instance is probed against the filter and
    ALSO exactly verified, yielding one audit row: filter size and set
    bits, flagged vs true-hit instance counts, realized false-positive
    load, the structurally-impossible miss count (always 0 — Bloom
    filters have no false negatives), and contaminated-document counts.

    Scale shapes: the filter is built by aggregating the EVAL side only
    (broadcast both as the bit table and as the exact-verify set — the
    eval set is the small side by construction, and m tracks IT, not
    the corpus, so the ~1.4 % theoretical fp rate holds at any corpus
    size); the corpus side is scanned once, probed and verified via
    broadcast joins with zero corpus-grain shuffle — the single output
    row comes from one map-side-combinable aggregation. In production
    the exact verify runs on the flagged ~1.5 % only; the audit
    verifies everything to measure what that shortcut would miss (0).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks"),
        (F.col("doc_id") % 10 == 7).alias("is_eval"),
    )
    grams = docs.select(
        "doc_id",
        "is_eval",
        F.explode(_word_ngrams(F.col("toks"), _NGRAM)).alias("g"),
    )
    ev = grams.filter("is_eval").select("g").distinct()
    m = ev.agg(
        (F.lit(_BITS_PER_GRAM) * F.count("*")).cast("long").alias("m")
    )
    bits = (
        ev.crossJoin(F.broadcast(m))
        .select(
            F.explode(
                F.array(
                    _md5_pos(F.col("g"), "b1", F.col("m")),
                    _md5_pos(F.col("g"), "b2", F.col("m")),
                )
            ).alias("pos")
        )
        .distinct()
    )
    corp = (
        grams.filter(~F.col("is_eval"))
        .crossJoin(F.broadcast(m))
        .select(
            "doc_id",
            "g",
            _md5_pos(F.col("g"), "b1", F.col("m")).alias("p1"),
            _md5_pos(F.col("g"), "b2", F.col("m")).alias("p2"),
        )
    )
    b1 = F.broadcast(bits.select(F.col("pos").alias("p1")).withColumn(
        "f1", F.lit(True)
    ))
    b2 = F.broadcast(bits.select(F.col("pos").alias("p2")).withColumn(
        "f2", F.lit(True)
    ))
    hits = F.broadcast(ev.select(F.col("g")).withColumn("h", F.lit(True)))
    probed = (
        corp.join(b1, "p1", "left")
        .join(b2, "p2", "left")
        .join(hits, "g", "left")
        .select(
            "doc_id",
            (F.coalesce("f1", F.lit(False)) & F.coalesce("f2", F.lit(False)))
            .alias("flagged"),
            F.coalesce("h", F.lit(False)).alias("hit"),
        )
    )
    agg = probed.agg(
        F.count("*").alias("n_corpus_grams"),
        F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
        F.sum(F.col("hit").cast("long")).alias("n_true_hits"),
        F.sum((F.col("flagged") & ~F.col("hit")).cast("long")).alias(
            "n_false_pos"
        ),
        F.sum((F.col("hit") & ~F.col("flagged")).cast("long")).alias(
            "n_missed"
        ),
        F.countDistinct(
            F.when(F.col("flagged"), F.col("doc_id"))
        ).alias("n_docs_flagged"),
        F.countDistinct(F.when(F.col("hit"), F.col("doc_id"))).alias(
            "n_docs_contaminated"
        ),
    )
    return (
        ev.agg(F.count("*").alias("n_eval_grams"))
        .crossJoin(bits.agg(F.count("*").alias("n_bits_set")))
        .crossJoin(agg)
        .select(
            "n_eval_grams",
            "n_bits_set",
            "n_corpus_grams",
            "n_flagged",
            "n_true_hits",
            "n_false_pos",
            "n_missed",
            "n_docs_flagged",
            "n_docs_contaminated",
        )
    )
