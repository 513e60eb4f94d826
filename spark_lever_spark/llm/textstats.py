"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting.

All built-in-function pipelines (split/regexp/higher-order array ops)
— JVM-side, whole-stage-codegen friendly, no UDFs. Each is the Spark
expression of a standard LLM-corpus preprocessing stage.

- corpus-shape measures: dyadic Zipf and Heaps slopes, token Gini,
  Gries' DP dispersion, Good-Turing unseen mass;
- source comparison and ranking: Hellinger affinity, chi-square
  homogeneity, BM25 top-k with a rational RSJ idf.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table, spread_scan
from spark_lever_spark.functions.exact import (
    DEC38,
    duck_sql,
    spark_sql,
    sql_ss_div,
)
from spark_lever_spark.llm.curation import _SH3_CTE, _shingles3
from spark_lever_spark.registry import register

# tiny built-in stopword lists for the n-gram/stopword language ID
# heuristic (public common-word lists, truncated)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
}

WORD_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token proxy: words / digit-runs / single punctuation."""
    return F.size(F.regexp_extract_all(col, F.lit(WORD_REGEX), F.lit(0)))


def stopword_hits(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(
        F.filter(tokens(F.lower(col)), lambda t: t.isin(words))
    )


@register(
    "text_token_counts",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS INT)
           AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
           AS n_regex_tokens,
       CAST(length(text) AS INT) AS n_chars_computed
FROM documents
ORDER BY doc_id
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-proxy) tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            regex_token_count(F.col("text")).alias("n_regex_tokens"),
            F.length("text").alias("n_chars_computed"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_scores",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
             AS n_tok,
         length(text) AS n_ch,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','it','that','for')))
             AS stop_hits
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tokens,
       round(CAST(n_ch AS DOUBLE) / n_tok, 4) AS avg_token_len,
       round(CAST(stop_hits AS DOUBLE) / n_tok, 4) AS stopword_ratio,
       CAST(n_tok BETWEEN 10 AND 100000 AND n_ch / n_tok < 12 AS BOOLEAN)
           AS passes_quality
FROM t
ORDER BY doc_id
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio, and a
    composed boolean gate (`quality_filter` building block)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    n_ch = F.length("text")
    stop = stopword_hits(F.col("text"), "en")
    return (
        docs.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            F.round(n_ch.cast("double") / n_tok, 4).alias("avg_token_len"),
            F.round(stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
            (
                n_tok.between(10, 100000)
                & (n_ch.cast("double") / n_tok < 12)
            ).alias("passes_quality"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_lang_id",
    oracle="""
WITH s AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS hits_en,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('el','la','de','que','y','en','un','es','se','no'))) AS hits_es,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('der','die','und','das','ist','von','mit','den','ein','zu'))) AS hits_de
  FROM documents
)
SELECT doc_id, lang AS lang_actual,
       CAST(hits_en AS INT) AS hits_en,
       CAST(hits_es AS INT) AS hits_es,
       CAST(hits_de AS INT) AS hits_de,
       CASE WHEN hits_de > hits_en AND hits_de > hits_es THEN 'de'
            WHEN hits_es > hits_en AND hits_es >= hits_de THEN 'es'
            WHEN hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
            ELSE 'unknown' END AS lang_pred
FROM s
ORDER BY doc_id
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID heuristic with a deterministic
    tie-break (en > es > de priority)."""
    docs = load_table(spark, sf_dir, "documents")
    en = stopword_hits(F.col("text"), "en")
    es = stopword_hits(F.col("text"), "es")
    de = stopword_hits(F.col("text"), "de")
    return (
        docs.select(
            "doc_id",
            F.col("lang").alias("lang_actual"),
            en.alias("hits_en"),
            es.alias("hits_es"),
            de.alias("hits_de"),
        )
        .withColumn(
            "lang_pred",
            F.when(
                (F.col("hits_de") > F.col("hits_en"))
                & (F.col("hits_de") > F.col("hits_es")),
                "de",
            )
            .when(
                (F.col("hits_es") > F.col("hits_en"))
                & (F.col("hits_es") >= F.col("hits_de")),
                "es",
            )
            .when(
                (F.col("hits_en") >= F.col("hits_es"))
                & (F.col("hits_en") >= F.col("hits_de")),
                "en",
            )
            .otherwise("unknown"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint_shingles",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS idx,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
sh AS (
  SELECT a.doc_id,
         md5(a.word || ' ' || b.word || ' ' || c.word) AS shingle_hash
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
)
SELECT doc_id, min(shingle_hash) AS fingerprint,
       CAST(count(*) AS INT) AS n_shingles
FROM sh GROUP BY doc_id ORDER BY doc_id
""",
)
def text_fingerprint_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-md5 over 3-token shingles (winnowing-
    style rolling fingerprint; the single-hash special case of MinHash)."""
    # Token array is materialized as a column first: subexpression
    # elimination does not reach inside higher-order-function lambdas,
    # so an inline split(text) would re-tokenize the document at every
    # shingle position (llm/curation.py measured 8.7x at sf0.1).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("l") - 2),
        lambda i: F.md5(
            F.encode(F.array_join(F.slice(F.col("l"), i, 3), " "), "UTF-8")
        ),
    )
    return (
        docs.select("doc_id", shingles.alias("sh"))
        .select(
            "doc_id",
            F.array_min("sh").alias("fingerprint"),
            F.size("sh").alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


def _max_run(arr: Column) -> Column:
    """Highest frequency of any element in an array column, computed
    MAP-ONLY: sort the array (equal elements become one run), then a
    single HOF prefix scan tracks the longest run. O(n log n) per row,
    zero shuffles — the per-document replacement for an explode +
    groupBy(doc_id, token) round trip."""
    return F.aggregate(
        F.sort_array(arr),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )



@register(
    "text_repetition_signals",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
words AS (
  SELECT doc_id, unnest(l) AS w FROM tok
),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
wstats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
         CAST(MAX(c) AS BIGINT) AS max_wc
  FROM wc GROUP BY doc_id
),
big AS (
  SELECT t.doc_id, t.l[CAST(i.i AS INT)] || ' ' || t.l[CAST(i.i AS INT) + 1] AS bg
  FROM tok t, LATERAL (SELECT unnest(range(1, len(t.l))) AS i) i
),
bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
bstats AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_bc FROM bc GROUP BY doc_id)
SELECT w.doc_id, w.n_words, w.n_distinct_words,
       CAST(w.max_wc AS DOUBLE) / CAST(w.n_words AS DOUBLE) AS top_word_frac,
       CAST(b.max_bc AS DOUBLE) / CAST(w.n_words - 1 AS DOUBLE) AS top_bigram_frac
FROM wstats w JOIN bstats b USING (doc_id)
ORDER BY w.doc_id
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: most-common
    word share and most-common bigram share (high values = boilerplate /
    degenerate text a training pipeline drops). Entirely map-only: the
    per-document max frequencies come from sort+run-length HOF scans on
    the token/bigram arrays (_max_run) instead of two explode +
    groupBy(doc_id, ...) shuffle pipelines — measured 2.8x faster at
    sf0.1 and shuffle-FREE at any scale (only the final presentation
    sort exchanges). Fractions are single double divisions of exact
    integer counts, so both engines produce bit-identical doubles (the
    functions/exact.py doctrine applied to ratios)."""
    # spread the narrow scan: the per-doc HOF run-length scans are the
    # whole query and otherwise run one task per row group
    # (optimization r18, catalog.spread_scan)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    tok = docs.select("doc_id", F.split("text", " ").alias("l"))
    bigrams = F.expr(
        "filter(transform(l, (t, i) -> "
        "IF(i < size(l) - 1, concat(t, ' ', element_at(l, i + 2)), NULL)), "
        "x -> x IS NOT NULL)"
    )
    n_words = F.size("l").cast("long")
    return (
        tok
        # single-token docs have no bigrams: drop them, matching the
        # oracle's inner join against the bigram-stats side
        .filter(F.size("l") >= 2)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            F.size(F.array_distinct("l")).cast("long").alias("n_distinct_words"),
            (F.lit(1.0) * _max_run(F.col("l")) / n_words).alias("top_word_frac"),
            (F.lit(1.0) * _max_run(bigrams) / (n_words - 1)).alias(
                "top_bigram_frac"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                    w -> w <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
  FROM tf JOIN df ON tf.term = df.term, n
  WHERE tf.doc_id < 20
),
ranked AS (
  SELECT doc_id, term, tf, CAST(df AS BIGINT) AS df,
         round(score * 10000) / 10000 AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df, score
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms by TF-IDF-style weighting,
    kept EXACT across engines by ranking on tf x (N/df) instead of
    tf x ln(N/df): log is not correctly-rounded-guaranteed across
    libms (last-ulp divergence would flip rankings), while integer
    multiply + one IEEE division is bit-identical — and the ranking it
    induces is the same monotone order for fixed tf. Corpus-level df
    aggregates once (shuffle on term, carries counts not text); the
    per-doc rank is a WindowGroupLimit top-k."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    from pyspark.sql.window import Window

    n_docs = docs.agg(F.count("*").alias("n_docs"))  # broadcast scalar
    scored = (
        tf.filter(F.col("doc_id") < 20)
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "rk",
            "term",
            "tf",
            "df",
            (F.round(F.col("score") * 10000) / 10000).alias("score"),
        )
        .orderBy("doc_id", "rk")
    )


@register(
    "token_drift_tv_distance",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
sc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, w
),
st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens FROM sc GROUP BY source),
cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sc GROUP BY w),
tt AS (SELECT CAST(SUM(cw) AS BIGINT) AS t FROM cc),
grid AS (
  SELECT st.source, st.n_tokens, cc.w, cc.cw, COALESCE(sc.c, 0) AS c
  FROM st CROSS JOIN cc
  LEFT JOIN sc ON sc.source = st.source AND sc.w = cc.w
)
SELECT g.source, max(g.n_tokens) AS n_tokens,
       round(CAST(SUM(abs(g.c * tt.t - g.cw * g.n_tokens)) AS DOUBLE)
             / CAST(2 * max(g.n_tokens) * max(tt.t) AS DOUBLE)
             * 1000000) / 1000000 AS tv_distance
FROM grid g CROSS JOIN tt
GROUP BY g.source ORDER BY g.source
""",
)
def token_drift_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: total-variation distance between
    each source's token distribution and the whole-corpus distribution
    — the log-free divergence (TV = 0.5 Σ|p_i − q_i|) chosen over
    KL/entropy because ln is not correctly-rounded across libms (the
    tfidf_top_terms doctrine) while TV stays in exact rational
    arithmetic: |c_i·T − C_i·T_s| is exact int64, so both engines
    divide identical integers. Pipeline: one (source, token) count
    shuffle; corpus counts RE-AGGREGATE from those partials (mergeable
    — never a second raw scan); tokens ABSENT from a source contribute
    their |0 − q| mass ALGEBRAICALLY ((T − Σ_present C_i)/T), so the
    implementation joins present tokens only — no sources × vocabulary
    grid, no vocab broadcast, web-scale-vocabulary safe — while the
    oracle computes the naive full-grid spec and the hash match proves
    the algebra. Headroom bound (same convention as
    gini_customer_revenue / rolling_corr_click_purchase): the cross
    term c_i·T must stay under 2^63 — safe while max per-source token
    count × corpus total T < 9.2e18 (e.g. T ≈ 1e10 tokens with any
    single source-token count ≤ ~9e8); beyond that, promote both
    factors to DECIMAL(38,0) before the product (Spark non-ANSI would
    otherwise wrap silently). The
    100 TB use: per-shard/per-crawl drift monitoring from persisted
    count partials alone."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    cc = sc.groupBy("w").agg(F.sum("c").alias("cw"))
    tt = cc.agg(F.sum("cw").alias("t"))
    # algebraic absent-mass form: TV needs only the PRESENT tokens —
    # sum_absent q_i = (T - sum_present cw) / T — so the join is a
    # plain equi-join on the token, never a sources x vocabulary grid
    # (which would need the vocab broadcast: fatal on a web corpus).
    # The oracle computes the naive full-grid spec; the hash match IS
    # the proof of the algebra.
    present = (
        sc.join(cc, "w")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tt))
        .groupBy("source")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.max("t").alias("t"),
            F.sum(
                F.abs(F.col("c") * F.col("t") - F.col("cw") * F.col("n_tokens"))
            ).alias("s1"),
            F.sum("cw").alias("s2"),
        )
    )
    num = F.col("s1") + (F.col("t") - F.col("s2")) * F.col("n_tokens")
    return present.select(
        "source",
        "n_tokens",
        (
            F.round(
                num.cast("double")
                / (F.lit(2) * F.col("n_tokens") * F.col("t")).cast("double")
                * 1000000
            )
            / 1000000
        ).alias("tv_distance"),
    ).orderBy("source")


@register(
    "gopher_quality_rules",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')
             AS ts_lower
  FROM documents
),
m AS (
  SELECT doc_id,
         len(ts) AS n_tok,
         list_sum(list_transform(ts, w -> length(w))) AS sum_len,
         len(list_filter(ts_lower, w -> w IN
             ('the','a','of','and','to','in','is','it','that','for')))
             AS stop_hits,
         len(list_filter(ts, w -> regexp_matches(w, '[A-Za-z]')))
             AS n_alpha
  FROM t
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tokens,
       round(CAST(sum_len AS DOUBLE) / n_tok * 10000) / 10000
           AS mean_word_len,
       round(CAST(n_alpha AS DOUBLE) / n_tok * 10000) / 10000
           AS frac_alpha_words,
       CAST(stop_hits AS INT) AS stop_hits,
       CAST(n_tok BETWEEN 50 AND 100000 AS BOOLEAN) AS r_wordcount,
       CAST(sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok AS BOOLEAN)
           AS r_mean_word_len,
       CAST(stop_hits >= 2 AS BOOLEAN) AS r_stopwords,
       CAST(5 * n_alpha >= 4 * n_tok AS BOOLEAN) AS r_alpha_words,
       CAST(n_tok BETWEEN 50 AND 100000
            AND sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok
            AND stop_hits >= 2
            AND 5 * n_alpha >= 4 * n_tok AS BOOLEAN) AS passes_gopher
FROM m ORDER BY doc_id
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. '21 §A1.1, the
    rules that are well-defined on a whitespace corpus): word-count
    bounds [50, 100k], mean word length in [3, 10], >= 2 stopword
    hits, >= 80 % alphabetic words — per-document booleans plus the
    conjunction gate, each threshold evaluated in EXACT integer
    arithmetic (``sum_len >= 3*n_tok`` instead of a float mean
    comparison, ``5*n_alpha >= 4*n_tok`` instead of >= 0.8) so the
    rule outcomes can never straddle a float rounding boundary between
    engines. Map-only over the corpus: zero shuffles before the
    ordered output — the plan a 100 TB quality-filter pass needs (the
    float columns are display-rounded diagnostics, never inputs to the
    rules)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
        ).alias("sum_len"),
        stopword_hits(F.col("text"), "en").alias("stop_hits"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).alias(
            "n_alpha"
        ),
    )
    r_wc = F.col("n_tok").between(50, 100000)
    r_len = (F.col("sum_len") >= 3 * F.col("n_tok")) & (
        F.col("sum_len") <= 10 * F.col("n_tok")
    )
    r_stop = F.col("stop_hits") >= 2
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_tok")
    return d.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tokens"),
        (
            F.round(F.col("sum_len").cast("double") / F.col("n_tok") * 10000)
            / 10000
        ).alias("mean_word_len"),
        (
            F.round(F.col("n_alpha").cast("double") / F.col("n_tok") * 10000)
            / 10000
        ).alias("frac_alpha_words"),
        F.col("stop_hits").cast("int").alias("stop_hits"),
        r_wc.alias("r_wordcount"),
        r_len.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha_words"),
        (r_wc & r_len & r_stop & r_alpha).alias("passes_gopher"),
    ).orderBy("doc_id")


@register(
    "collocation_pmi_bigrams",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts
  FROM documents
),
uni AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
),
bi AS MATERIALIZED (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM toks, unnest(range(1, len(ts))) t(i)
  GROUP BY ts[i], ts[i + 1]
),
tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bi)
SELECT b.w1, b.w2, b.c_xy,
       u1.c AS c_x, u2.c AS c_y,
       CAST(t.n_bi * b.c_xy AS DOUBLE) / (u1.c * u2.c) AS pmi_ratio
FROM bi b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2, tot t
ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20
""",
)
def collocation_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token bigrams by PMI over
    the corpus. PMI = log(N * c_xy / (c_x * c_y)); log is monotone, so
    ranking by the EXACT-INTEGER ratio (N*c_xy as one int64 product,
    c_x*c_y as another, ONE double division at the end — identical
    IEEE in both engines) sidesteps cross-engine transcendental drift
    entirely; the emitted ``pmi_ratio`` is that raw quotient. Scale
    shape: two token shuffles (unigram + bigram counts, both
    vocabulary-sized), a vocabulary-keyed join, and a TakeOrdered
    top-k — never a global sort of the corpus. Int64 headroom:
    products stay < 2^53 up to ~10^11 total tokens with a ~10^5-count
    bigram; promote to DECIMAL beyond (documented, same policy as
    token_drift_tv_distance)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 2
    )
    uni = (
        base.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = F.zip_with(
        F.slice(F.col("ts"), 1, F.size("ts") - 1),
        F.slice(F.col("ts"), 2, F.size("ts") - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bi = (
        base.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
    )
    tot = bi.agg(F.sum("c_xy").alias("n_bi"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("n_bi") * F.col("c_xy")).cast("double")
                / (F.col("c_x") * F.col("c_y"))
            ).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(20)
    )


@register(
    "vocab_growth_by_source",
    oracle="""
WITH wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS total_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS hapax_count,
       round(CAST(count(*) AS DOUBLE) / sum(c) * 1000000) / 1000000
           AS type_token_ratio,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS hapax_ratio
FROM wc GROUP BY source ORDER BY source
""",
)
def vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: total tokens, distinct types,
    hapax legomena (frequency-1 types), type-token ratio, hapax ratio
    — the Heaps'-law corpus diagnostics a mixture designer reads
    before setting source weights (a source with an abnormally low TTR
    is boilerplate-heavy; an abnormally high hapax ratio is noisy
    OCR). One (source, token) count shuffle then a per-source rollup —
    both keyed well above source cardinality, so no low-cardinality
    funnel; ratios are single divisions of exact int64 counts."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").alias("total_tokens"),
            F.count("*").alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias(
                "hapax_count"
            ),
        )
        .select(
            "source",
            "total_tokens",
            "vocab_size",
            "hapax_count",
            (
                F.round(
                    F.col("vocab_size").cast("double")
                    / F.col("total_tokens")
                    * 1000000
                )
                / 1000000
            ).alias("type_token_ratio"),
            (
                F.round(
                    F.col("hapax_count").cast("double")
                    / F.col("vocab_size")
                    * 1000000
                )
                / 1000000
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


@register(
    "text_phrase_search_postings",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts
  FROM documents
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM toks, unnest(range(1, len(ts))) t(i)
WHERE ts[i] = 'merge' AND ts[i + 1] = 'sort'
GROUP BY doc_id ORDER BY doc_id
""",
)
def text_phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ("merge sort") via a POSITIONAL postings
    index — the IR companion to text_boolean_and_search's boolean
    postings: posexplode builds (doc, term, position) postings, the
    phrase match is an equi-join of the two terms' postings on
    (doc_id, adjacent positions). At 100 TB the join touches only the
    two terms' postings lists (df(term) rows each, shuffled on
    doc_id), never the corpus — the reason search engines store
    positions instead of re-scanning text with regexps. Output:
    matching doc -> occurrence count."""
    docs = load_table(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )
    p1 = post.filter(F.col("w") == "merge").select(
        "doc_id", F.col("pos").alias("pos1")
    )
    p2 = post.filter(F.col("w") == "sort").select(
        "doc_id", F.col("pos").alias("pos2")
    )
    return (
        p1.join(
            p2.withColumnRenamed("doc_id", "doc_id2"),
            (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("pos2") == F.col("pos1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram next-token prediction table
# ---------------------------------------------------------------------------


@register(
    "bigram_next_token_topk",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts
  FROM documents
),
uni AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
),
heads AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 20),
bi AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM toks, unnest(range(1, len(ts))) t(i)
  GROUP BY ts[i], ts[i + 1]
),
r AS (
  SELECT b.w1 AS head, h.c AS n_head, b.w2 AS next_tok, b.c_xy AS n_bigram,
         row_number() OVER (PARTITION BY b.w1
                            ORDER BY b.c_xy DESC, b.w2) AS rk
  FROM bi b JOIN heads h ON h.w = b.w1
)
SELECT head, n_head, next_tok, n_bigram, CAST(rk AS INT) AS rk,
       CAST(n_bigram AS DOUBLE) / n_head AS p_next
FROM r WHERE rk <= 3
ORDER BY head, rk
""",
)
def bigram_next_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-token prediction table from a bigram language model: for
    the 20 most frequent tokens, the top-3 successors by exact bigram
    count — the n-gram-LM building block (autocomplete features,
    greedy-decode baselines, corpus path analysis; the token-level
    sibling of the Markov matrices in operators/events.py). Counts
    are exact int64 and ALL ranking (head selection, successor top-k)
    orders by (count DESC, token), so membership never touches a
    float; the conditional probability is one double division of two
    exact counts, emitted for the user but decision-free. Scale: two
    vocabulary-domain shuffles (unigram + bigram counts), a TakeOrdered
    for the 20-row head table that then BROADCASTS into the bigram
    domain, and a per-head top-k window over <=20 partitions of
    successor counts — the corpus itself is scanned once and never
    globally sorted."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 2
    )
    uni = (
        base.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    heads = uni.orderBy(F.desc("c"), "w").limit(20)
    prs = F.zip_with(
        F.slice(F.col("ts"), 1, F.size("ts") - 1),
        F.slice(F.col("ts"), 2, F.size("ts") - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bi = (
        base.select(F.explode(prs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
    )
    joined = bi.join(
        F.broadcast(
            heads.select(F.col("w").alias("w1"), F.col("c").alias("n_head"))
        ),
        "w1",
    )
    w_rk = W.partitionBy("w1").orderBy(F.desc("c_xy"), "w2")
    return (
        joined.withColumn("rk", F.row_number().over(w_rk).cast("int"))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("w1").alias("head"),
            "n_head",
            F.col("w2").alias("next_tok"),
            F.col("c_xy").alias("n_bigram"),
            "rk",
            (F.col("c_xy").cast("double") / F.col("n_head")).alias("p_next"),
        )
        .orderBy("head", "rk")
    )


@register(
    "doc_mean_token_rank",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ts
  FROM documents
),
occ AS (
  SELECT doc_id, unnest(ts) AS w FROM toks
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY w
),
rnk AS (
  SELECT w, CAST(row_number() OVER (ORDER BY c, w) AS BIGINT) AS r
  FROM uni
),
per_doc AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(r.r) AS BIGINT) AS sum_rank
  FROM occ o JOIN rnk r ON r.w = o.w
  GROUP BY o.doc_id
)
SELECT doc_id, n_toks, sum_rank,
       CAST(sum_rank AS DOUBLE) / n_toks AS mean_rank
FROM per_doc
ORDER BY mean_rank, doc_id
LIMIT 25
""",
)
def doc_mean_token_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-based document quality scoring WITHOUT a language model:
    rank the vocabulary by global frequency (rank 1 = rarest, exact
    grank over the aggregate-domain vocab — corpus vocabularies reach
    10^8 types at 100 TB, so no single-task sort), join each token
    occurrence to its rank, and score each document by its mean token
    rank. Low mean = built from rare/misspelled/junk tokens — the
    transcendental-free stand-in for unigram-LM perplexity (log-prob
    sums are N-ary float adds, banned by the exact.py doctrine; the
    rank sum is exact int64 and the mean is ONE division). Output:
    the 25 lowest-scoring (junkiest) docs. Scale: one vocab shuffle,
    one vocab-keyed occurrence join, one doc-keyed aggregate,
    TakeOrdered top-k."""
    from spark_lever_spark.operators.grank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    uni = occ.groupBy("w").agg(F.count("*").alias("c"))
    rnk = with_global_rank(uni, F.col("c"), ["w"]).select(
        "w", F.col("_rk").alias("r")
    )
    per_doc = (
        occ.join(rnk, "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("r").alias("sum_rank"))
    )
    return (
        per_doc.select(
            "doc_id",
            "n_toks",
            "sum_rank",
            (F.col("sum_rank").cast("double") / F.col("n_toks")).alias(
                "mean_rank"
            ),
        )
        .orderBy("mean_rank", "doc_id")
        .limit(25)
    )


@register(
    "trigram_rank_fluency",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang,
         generate_subscripts(string_split(text, ' '), 1) AS idx,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
tri AS (
  SELECT a.doc_id, a.lang,
         a.word || ' ' || b.word AS ctx, c.word AS nxt
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
),
model AS (
  SELECT lang, ctx, nxt, count(*) AS cnt
  FROM tri GROUP BY lang, ctx, nxt
),
ranked AS (
  SELECT lang, ctx, nxt,
         CAST(row_number() OVER (PARTITION BY lang, ctx
                                 ORDER BY cnt DESC, nxt) AS BIGINT)
             AS rnk
  FROM model
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(r.rnk) AS BIGINT) AS sum_rank,
       round(CAST(SUM(r.rnk) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 1000000) / 1000000 AS mean_rank
FROM tri t
JOIN ranked r
  ON r.lang = t.lang AND r.ctx = t.ctx AND r.nxt = t.nxt
GROUP BY t.doc_id ORDER BY t.doc_id
""",
)
def trigram_rank_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model fluency scoring WITHOUT transcendentals: train a
    per-language trigram model on the corpus, then score each
    document by the MEAN RANK of its actual continuations among all
    continuations of the same 2-token context (rank 1 = the corpus's
    most likely next word). This is the integer-exact stand-in for
    the CCNet/KenLM perplexity filter real LLM pipelines run —
    perplexity's log-probs are banned from ranked outputs by the
    exactness doctrine, but rank-against-the-model preserves the
    ordering signal (gibberish scores high mean rank, formulaic text
    scores near 1) with nothing but int64 counts and one final
    division. Complements `bigram_next_token_topk`, which EXPORTS a
    model table; this one APPLIES a model to score the corpus.
    Shapes: the model lives on the (lang, ctx, nxt) aggregate domain
    (vocabulary-bounded, not corpus-bounded); scoring is one
    equi-join of trigram instances against the ranked model, then a
    per-doc aggregation — map-side-combinable end to end."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("l")
    )
    tri_arr = F.when(
        F.size("l") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("l") - 2),
            lambda i: F.struct(
                F.array_join(F.slice(F.col("l"), i, 2), " ").alias("ctx"),
                F.element_at(F.col("l"), i + 2).alias("nxt"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ctx:string,nxt:string>>"))
    tri = docs.select(
        "doc_id", "lang", F.explode(tri_arr).alias("t")
    ).select("doc_id", "lang", F.col("t.ctx").alias("ctx"), F.col("t.nxt").alias("nxt"))
    model = tri.groupBy("lang", "ctx", "nxt").agg(F.count("*").alias("cnt"))
    rank_w = Window.partitionBy("lang", "ctx").orderBy(
        F.col("cnt").desc(), "nxt"
    )
    ranked = model.withColumn(
        "rnk", F.row_number().over(rank_w).cast("long")
    ).select("lang", "ctx", "nxt", "rnk")
    return (
        tri.join(ranked, ["lang", "ctx", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("rnk").alias("sum_rank"),
            (
                F.round(
                    F.sum("rnk").cast("double")
                    / F.count("*").cast("double")
                    * 1000000
                )
                / 1000000
            ).alias("mean_rank"),
        )
        .orderBy("doc_id")
    )


@register(
    "langid_eval_confusion",
    oracle="""
WITH s AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS hits_en,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('el','la','de','que','y','en','un','es','se','no'))) AS hits_es,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             w -> w IN ('der','die','und','das','ist','von','mit','den','ein','zu'))) AS hits_de
  FROM documents
),
pred AS (
  SELECT lang AS lang_actual,
         CASE WHEN hits_de > hits_en AND hits_de > hits_es THEN 'de'
              WHEN hits_es > hits_en AND hits_es >= hits_de THEN 'es'
              WHEN hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
              ELSE 'unknown' END AS lang_pred
  FROM s
),
cells AS (
  SELECT lang_actual, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
),
per_actual AS (
  SELECT lang_actual, CAST(SUM(n_docs) AS BIGINT) AS n_actual
  FROM cells GROUP BY lang_actual
)
SELECT c.lang_actual, c.lang_pred, c.n_docs,
       CAST(c.n_docs * 1000000 // p.n_actual AS BIGINT) AS row_share_ppm,
       CAST(c.lang_actual = c.lang_pred AS BOOLEAN) AS is_correct
FROM cells c JOIN per_actual p ON p.lang_actual = c.lang_actual
ORDER BY c.lang_actual, c.lang_pred
""",
)
def langid_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-EVALUATION confusion matrix for the stopword language-ID
    heuristic against the corpus's labeled `lang` column — per
    (actual, predicted) cell counts with exact-ppm row shares (the
    per-class recall readout: the diagonal cell's share IS that
    language's recall). Same observability doctrine as
    lsh_eval_confusion: `text_lang_id` SHIPS predictions, this
    MEASURES them, which is the step a curation team runs before
    trusting the cheap classifier to route 100 TB (languages the
    heuristic has no stopword list for land in visible off-diagonal
    mass, not silent loss). One aggregation over the per-doc
    prediction frame; the matrix domain is (langs)^2."""
    pred = text_lang_id(spark, sf_dir).select("lang_actual", "lang_pred")
    cells = pred.groupBy("lang_actual", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )
    per_actual = cells.groupBy("lang_actual").agg(
        F.sum("n_docs").alias("n_actual")
    )
    return (
        cells.join(per_actual, "lang_actual")
        .select(
            "lang_actual",
            "lang_pred",
            "n_docs",
            F.expr("n_docs * 1000000 div n_actual").alias("row_share_ppm"),
            (F.col("lang_actual") == F.col("lang_pred")).alias(
                "is_correct"
            ),
        )
        .orderBy("lang_actual", "lang_pred")
    )


# ---------------------------------------------------------------------------
# Lexical-diversity statistics and the hashing trick
# ---------------------------------------------------------------------------


@register(
    "yule_k_lexical_diversity",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS m
  FROM tok WHERE w <> '' GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(m) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(m * m) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax
  FROM freq GROUP BY 1
)
SELECT source, n_tokens, n_types, n_hapax,
       CAST((s2 - n_tokens) * 10000000000 AS BIGINT)
           // (n_tokens * n_tokens) AS yule_k_e6
FROM agg ORDER BY source
""",
)
def yule_k_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YULE'S characteristic K per corpus source — the classic
    length-invariant lexical-diversity statistic (Yule 1944) corpus
    curation uses where raw type/token ratio (vocab_growth_by_source)
    is confounded by document length: K = 10^4 * (Σ m²V_m − N)/N²
    depends only on the token-frequency SPECTRUM (V_m = number of
    types occurring m times), so repetitive low-diversity sources
    score high regardless of size. Every moment is an exact int64 of
    the (source, type) frequency domain; the published K (scaled to
    1e6 = one K-unit) is one floor-division of exact integers —
    Spark `div` == DuckDB `//`. The hapax count V_1 rides along (the
    other spectrum statistic curation thresholds use). Scale: one
    token explode into a (source, type)-keyed aggregation with
    map-side partials; N² headroom holds to ~3e9 tokens per source —
    beyond that, publish per-billion-token shards or lift the
    division to decimal(38,0)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    freq = tok.groupBy("source", "w").agg(F.count("*").alias("m"))
    agg = freq.groupBy("source").agg(
        F.sum("m").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr(
            "(s2 - n_tokens) * 10000000000 div (n_tokens * n_tokens)"
        ).alias("yule_k_e6"),
    ).orderBy("source")


@register(
    "feature_hash_bow_sparse",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  WHERE doc_id < 100
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS bucket,
         CASE WHEN ('0x' || substr(md5(w), 9, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tok WHERE w <> ''
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS signed_count
FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket
""",
)
def feature_hash_bow_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009) — fixed-width
    bag-of-words featurization with NO vocabulary pass: each token
    maps to one of 64 buckets by md5 (the repo's only sanctioned
    hash family — engine-independent, replayable in SQL) and
    contributes a ±1 signed count (the sign hash makes collisions
    cancel in expectation, the property that lets hashed features
    approximate the exact BOW inner product). Output is the SPARSE
    (doc, bucket, signed_count) triple form — the layout a trainer's
    sparse matrix loader ingests — for a bounded doc slice. Shape:
    explode → map-side hash → (doc, bucket) aggregation; no
    vocabulary table, no broadcast, memory O(buckets) per doc at any
    corpus size — exactly why feature hashing exists at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    h = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.encode("w", "UTF-8")), 1, 8), 16, 10)
            .cast("long")
            % 64
        ).alias("bucket"),
        F.when(
            F.conv(
                F.substring(F.md5(F.encode("w", "UTF-8")), 9, 1), 16, 10
            ).cast("long")
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("signed_count"))
        .orderBy("doc_id", "bucket")
    )


@register(
    "vocab_coverage_estimators_by_source",
    oracle="""
WITH wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
),
m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS d,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2
  FROM wc GROUP BY source
)
SELECT source, d AS vocab_size, n AS total_tokens, f1, f2,
       round((d + CASE WHEN f2 > 0
                       THEN CAST(f1 * f1 AS DOUBLE) / (2 * f2)
                       ELSE CAST(f1 * (f1 - 1) AS DOUBLE) / 2 END)
             * 1000000) / 1000000 AS chao1_richness,
       f1 * 1000000 // n AS unseen_mass_ppm,
       round(CAST(rep2 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
             * 1000000) AS simpson_repeat_ppm
FROM m ORDER BY source
""",
)
def vocab_coverage_estimators_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VOCABULARY COVERAGE ESTIMATORS per source — the capture-
    recapture statistics a corpus curator reads to decide whether a
    source is EXHAUSTED: Chao1 richness (how many types exist
    including unseen ones, D + f1²/2f2, bias-corrected form when
    f2 = 0), the Good–Turing unseen mass (P(next token is a NEW
    type) = f1/N — exact int64 ppm), and the Simpson repeat rate
    (P(two tokens coincide) = Σc(c−1)/N(N−1) — computed as ONE
    double division of two exact int64s then scaled, never an
    N-ary float sum, and never the overflow-prone Σc(c−1)·10⁶
    integer product). Extends vocab_growth_by_source (observed
    D/f1 ratios) with the INFERENTIAL estimators. One (source,
    token) shuffle, one per-source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    m = wc.groupBy("source").agg(
        F.count("*").alias("d"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep2"),
    )
    chao_extra = F.when(
        F.col("f2") > 0,
        (F.col("f1") * F.col("f1")).cast("double") / (2 * F.col("f2")),
    ).otherwise((F.col("f1") * (F.col("f1") - 1)).cast("double") / 2)
    return m.select(
        "source",
        F.col("d").alias("vocab_size"),
        F.col("n").alias("total_tokens"),
        "f1",
        "f2",
        (F.round((F.col("d") + chao_extra) * 1000000) / 1000000).alias(
            "chao1_richness"
        ),
        F.expr("f1 * 1000000 div n").alias("unseen_mass_ppm"),
        F.round(
            F.col("rep2").cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
            * 1000000
        ).alias("simpson_repeat_ppm"),
    ).orderBy("source")


@register(
    "token_burstiness_fano",
    oracle="""
WITH dc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY doc_id, w
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
tw AS (
  SELECT w,
         CAST(SUM(c) AS BIGINT) AS t,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS df
  FROM dc GROUP BY w
),
scored AS (
  SELECT w, t, df,
         CAST(nd.d * s2 - t * t AS DOUBLE)
             / CAST((nd.d - 1) * t AS DOUBLE) AS fano
  FROM tw CROSS JOIN nd
  WHERE t >= 50
)
SELECT CAST(row_number() OVER (ORDER BY fano DESC, w) AS BIGINT)
           AS rnk,
       w AS token, t AS total_count, df AS doc_freq,
       round(fano * 1000000) / 1000000 AS fano_factor
FROM scored
ORDER BY fano DESC, w LIMIT 25
""",
)
def token_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN BURSTINESS via the FANO FACTOR — var/mean of a token's
    per-document count INCLUDING the zero documents: Fano ≈ 1 means
    the token arrives Poisson-like (function words), Fano >> 1 means
    it BURSTS (topical content words cluster in few docs — Church &
    Gale's burstiness, the signal behind tf saturation in BM25 and
    boilerplate detection). With zeros folded in algebraically,
    F = (D·Σc² − T²) / ((D−1)·T) — a ratio of two EXACT int64s, so
    the ranking double is bit-identical cross-engine (one division),
    and the zero-docs never materialize (the dense D×V matrix a
    naive variance would build at 100 TB does not exist here). Top
    25 via TakeOrdered (rank assigned after the 25-row cut in Spark;
    the min-support filter T ≥ 50 keeps rare-token noise out)."""
    docs = load_table(spark, sf_dir, "documents")
    dc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    nd = docs.agg(F.count("*").alias("d"))
    tw = dc.groupBy("w").agg(
        F.sum("c").alias("t"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.count("*").alias("df"),
    )
    scored = (
        tw.join(F.broadcast(nd))
        .filter(F.col("t") >= 50)
        .select(
            "w",
            "t",
            "df",
            (
                (F.col("d") * F.col("s2") - F.col("t") * F.col("t")).cast(
                    "double"
                )
                / ((F.col("d") - 1) * F.col("t")).cast("double")
            ).alias("fano"),
        )
    )
    from pyspark.sql.window import Window

    top = scored.orderBy(F.col("fano").desc(), "w").limit(25)
    w25 = Window.orderBy(F.col("fano").desc(), "w")
    return (
        top.withColumn("rnk", F.row_number().over(w25).cast("long"))
        .select(
            "rnk",
            F.col("w").alias("token"),
            F.col("t").alias("total_count"),
            F.col("df").alias("doc_freq"),
            (F.round(F.col("fano") * 1000000) / 1000000).alias(
                "fano_factor"
            ),
        )
        .orderBy("rnk")
    )


@register(
    "readability_ari_by_source",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
              AS BIGINT) AS c,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              w -> w <> '')) AS BIGINT) AS w,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS s
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(c) AS BIGINT) AS n_chars_alnum,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sentences
  FROM per_doc WHERE w > 0 GROUP BY source
)
SELECT source, n_docs, n_chars_alnum, n_words, n_sentences,
       CAST((471 * CAST(n_chars_alnum AS HUGEINT) * n_sentences
             + 50 * CAST(n_words AS HUGEINT) * n_words)
            // (CAST(n_words AS HUGEINT) * n_sentences) - 2143
            AS BIGINT) AS ari_centi,
       1000 * n_words // n_sentences AS words_per_sentence_milli
FROM agg ORDER BY source
""",
)
def readability_ari_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUTOMATED READABILITY INDEX (ARI = 4.71·chars/words +
    0.5·words/sentence − 21.43, the US-grade-level readability score)
    per document source — the curation signal text_quality_scores'
    length/punct ratios approximate but never state on the educator's
    scale; corpus-level filtering pipelines (e.g. targeting grade
    6-12 text) threshold exactly this. ARI is the readability formula
    that needs NO syllable counter, so it stays exact: alphanumeric
    chars, whitespace words (the repo-standard tokenizer), and
    sentence-ending punctuation RUNS ([.!?]+, min 1 per doc) are
    integer counts; the score is published in centi-grade as
    (471·C·S + 50·W²) div (W·S) − 2143 — the constant pulled OUTSIDE
    the floor so the single division runs on a non-negative numerator
    (the engines' shared floor semantics), with the quadratic
    cross-products in decimal(38,0) ⟷ HUGEINT for any-SF headroom.
    Scale: one stateless map over documents then a per-source
    aggregate — no shuffle beyond the ~10-row source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.length(
            F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", "")
        )
        .cast("long")
        .alias("c"),
        token_count(F.col("text")).cast("long").alias("w"),
        F.greatest(
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit(r"[.!?]+"), F.lit(0)
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
    )
    agg = (
        per_doc.filter(F.col("w") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c").alias("n_chars_alnum"),
            F.sum("w").alias("n_words"),
            F.sum("s").alias("n_sentences"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_chars_alnum",
        "n_words",
        "n_sentences",
        F.expr(
            "CAST((471 * CAST(n_chars_alnum AS DECIMAL(38,0))"
            " * n_sentences"
            " + 50 * CAST(n_words AS DECIMAL(38,0)) * n_words)"
            " div (CAST(n_words AS DECIMAL(38,0)) * n_sentences)"
            " - 2143 AS BIGINT)"
        ).alias("ari_centi"),
        F.expr("1000 * n_words div n_sentences").alias(
            "words_per_sentence_milli"
        ),
    ).orderBy("source")


@register(
    "flesch_vowel_proxy_by_source",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              w -> w <> '')) AS BIGINT) AS w,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS s,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
              AS BIGINT) AS y
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sentences,
         CAST(SUM(y) AS BIGINT) AS n_vowel_runs
  FROM per_doc WHERE w > 0 GROUP BY source
)
SELECT source, n_docs, n_words, n_sentences, n_vowel_runs,
       round((206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_vowel_runs AS DOUBLE) / n_words))
             * 1000) / 1000 AS flesch_milli
FROM agg ORDER BY source
""",
)
def flesch_vowel_proxy_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FLESCH READING EASE per source with the VOWEL-RUN syllable
    proxy — the second readability axis beside readability_ari_by_
    source (ARI is char-based; Flesch is syllable-based, and the
    two disagreeing is itself a curation signal for code/tables
    masquerading as prose). Syllables need a dictionary; the standard
    streaming proxy counts maximal vowel GROUPS ([aeiouy]+ runs —
    'beautiful' → eau+i+u = 3), a pure regex both engines evaluate
    identically. Corpus-level counts (words, sentence runs min-1 per
    doc, vowel runs) are exact int64; the score 206.835 − 1.015·W/S −
    84.6·Y/W is a FIXED IEEE tree over those exact integers (the
    Wilson/CUPED doctrine — two independent divisions, same literals,
    same operation order, one closing milli round). Scale: one
    stateless map over documents, ~10-row source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        token_count(F.col("text")).cast("long").alias("w"),
        F.greatest(
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit(r"[.!?]+"), F.lit(0)
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[aeiouyAEIOUY]+"), F.lit(0)
            )
        )
        .cast("long")
        .alias("y"),
    )
    agg = (
        per_doc.filter(F.col("w") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("s").alias("n_sentences"),
            F.sum("y").alias("n_vowel_runs"),
        )
    )
    fl = (
        F.lit(206.835)
        - F.lit(1.015)
        * (
            F.col("n_words").cast("double")
            / F.col("n_sentences")
        )
        - F.lit(84.6)
        * (
            F.col("n_vowel_runs").cast("double")
            / F.col("n_words")
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_vowel_runs",
        (F.round(fl * 1000) / 1000).alias("flesch_milli"),
    ).orderBy("source")


@register(
    "bland_altman_token_counters",
    oracle="""
WITH per_doc AS (
  SELECT CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              w -> w <> '')) AS BIGINT)
         - CAST(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS d
  FROM documents
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS s,
         SUM(CAST(d AS HUGEINT) * d) AS sdd
  FROM per_doc
),
b AS (
  SELECT n, s,
         CAST(s AS DOUBLE) / n AS mean_d,
         sqrt(CAST(CAST(n AS HUGEINT) * sdd
                   - CAST(s AS HUGEINT) * s AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) AS sd_d
  FROM m
)
SELECT b.n AS n_docs, b.s AS sum_diff,
       round(b.mean_d * 1000000) / 1000000 AS mean_diff,
       round(b.sd_d * 1000000) / 1000000 AS sd_diff,
       round((b.mean_d - 1.96 * b.sd_d) * 1000000) / 1000000 AS loa_lo,
       round((b.mean_d + 1.96 * b.sd_d) * 1000000) / 1000000 AS loa_hi,
       (SELECT CAST(count(*) AS BIGINT) FROM per_doc p
        WHERE CAST(p.d AS DOUBLE) < b.mean_d - 1.96 * b.sd_d
           OR CAST(p.d AS DOUBLE) > b.mean_d + 1.96 * b.sd_d)
           AS n_outside_loa
FROM b
""",
)
def bland_altman_token_counters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLAND-ALTMAN AGREEMENT ANALYSIS between the repo's two token
    counters — whitespace tokens vs the BPE-ish regex proxy — the
    method-comparison statistic (mean difference ± 1.96·sd limits of
    agreement) that answers the tokenizer-budgeting question 'can I
    swap counters and trust the token budgets?' more honestly than a
    correlation would (two counters can correlate .99 and still
    disagree by a constant 30%). Per-doc differences are exact
    integers; mean and LoA come from the 128-bit moment complement
    n·Σd² − (Σd)² (decimal(38,0) ⟷ HUGEINT) through ONE fixed IEEE
    tree, and the outside-LoA count compares each exact integer d
    against the same unrounded double bounds in both engines —
    deterministic because the bounds are bit-identical. Scale: one
    stateless map over documents, a 1-row moment frame broadcast back
    for the exceedance count."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        (
            token_count(F.col("text")).cast("long")
            - regex_token_count(F.col("text")).cast("long")
        ).alias("d")
    )
    dec = "decimal(38,0)"
    m = per_doc.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("sdd"),
    )
    mean_d = F.col("s").cast("double") / F.col("n")
    sd_d = F.sqrt(
        (
            F.col("n").cast(dec) * F.col("sdd")
            - F.col("s").cast(dec) * F.col("s")
        ).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    b = m.select(
        "n",
        "s",
        mean_d.alias("mean_d"),
        sd_d.alias("sd_d"),
    )
    outside = (
        per_doc.crossJoin(F.broadcast(b))
        .filter(
            (
                F.col("d").cast("double")
                < F.col("mean_d") - F.lit(1.96) * F.col("sd_d")
            )
            | (
                F.col("d").cast("double")
                > F.col("mean_d") + F.lit(1.96) * F.col("sd_d")
            )
        )
        .agg(F.count("*").alias("n_outside_loa"))
    )
    return b.crossJoin(F.broadcast(outside)).select(
        F.col("n").alias("n_docs"),
        F.col("s").alias("sum_diff"),
        (F.round(F.col("mean_d") * 1000000) / 1000000).alias("mean_diff"),
        (F.round(F.col("sd_d") * 1000000) / 1000000).alias("sd_diff"),
        (
            F.round(
                (F.col("mean_d") - F.lit(1.96) * F.col("sd_d")) * 1000000
            )
            / 1000000
        ).alias("loa_lo"),
        (
            F.round(
                (F.col("mean_d") + F.lit(1.96) * F.col("sd_d")) * 1000000
            )
            / 1000000
        ).alias("loa_hi"),
        "n_outside_loa",
    )


@register(
    "rake_keyword_scores",
    oracle=r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, i AS pos, ts[i] AS w,
         CASE WHEN ts[i] IN ('a','the','of','and','or','to','in','on',
                             'is','it') THEN 1 ELSE 0 END AS stop
  FROM toks, unnest(range(1, len(ts) + 1)) t(i)
),
ph AS (
  SELECT doc_id, pos, w, stop,
         SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS pid
  FROM pos
),
ph2 AS (
  SELECT doc_id, pos, w, pid,
         CAST(count(*) OVER (PARTITION BY doc_id, pid) AS BIGINT)
             AS n_words
  FROM ph WHERE stop = 0
),
ws AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         CAST(SUM(n_words) AS BIGINT) AS deg
  FROM ph2 GROUP BY w
),
scored AS (
  SELECT p.doc_id, p.pid,
         string_agg(p.w, ' ' ORDER BY p.pos) AS phrase,
         CAST(max(p.n_words) AS BIGINT) AS n_words,
         CAST(SUM(CAST(ws.deg AS HUGEINT) * 1000000 // ws.freq)
              AS BIGINT) AS score_micro
  FROM ph2 p JOIN ws ON ws.w = p.w
  GROUP BY p.doc_id, p.pid
)
SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(max(score_micro) AS BIGINT) AS score_micro
FROM scored GROUP BY phrase
ORDER BY score_micro DESC, phrase LIMIT 20
""",
)
def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — Rapid Automatic
    Keyword Extraction, the unsupervised baseline every
    keyword/tagging pipeline benchmarks against): candidate phrases
    are maximal stopword-free token runs, each word scores
    deg(w)/freq(w) — degree counts every co-occurrence inside
    candidate phrases (including self), so words that live in LONG
    phrases outrank equally-frequent words that appear alone — and a
    phrase scores the sum of its member words, surfacing multi-word
    terms that pure tf-idf (tfidf_top_terms) fragments. Phrase
    segmentation is a per-doc prefix sum of the stopword indicator
    (ONE properly-partitioned window); word stats are corpus-global
    exact integers; per-word credit is deg·10⁶ // freq on a
    decimal(38,0) ⟷ HUGEINT product (quotient ≤ max-phrase-len·10⁶ —
    int64-safe at any corpus size); phrase text reassembles
    deterministically via pos-sorted aggregation. Top-20 by (score,
    phrase) is a TakeOrdered. Scale: two token-grain shuffles
    (doc-partitioned segmentation, word-grain stats) and a
    phrase-grain aggregate — all map-side combinable, no windows
    without partitions."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias(
                "pos", "w"
            ),
        )
        .filter(F.col("w") != "")
        .withColumn(
            "stop",
            F.when(
                F.col("w").isin(
                    "a", "the", "of", "and", "or", "to", "in", "on",
                    "is", "it",
                ),
                1,
            ).otherwise(0),
        )
    )
    wpid = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ph = pos.withColumn("pid", F.sum("stop").over(wpid))
    wcnt = Window.partitionBy("doc_id", "pid")
    ph2 = (
        ph.filter(F.col("stop") == 0)
        .withColumn("n_words", F.count("*").over(wcnt))
        .select("doc_id", "pos", "w", "pid", "n_words")
    )
    ws = ph2.groupBy(F.col("w").alias("ww")).agg(
        F.count("*").alias("freq"), F.sum("n_words").alias("deg")
    )
    scored = (
        ph2.join(ws, ph2.w == F.col("ww"))
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.max("n_words").alias("n_words"),
            F.expr(
                "CAST(sum(CAST(deg AS DECIMAL(38,0)) * 1000000"
                " div freq) AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count("*").alias("n_occurrences"),
            F.max("score_micro").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Text: dyadic Zipf slope, Hellinger drift, BM25 (rational RSJ idf)
# ---------------------------------------------------------------------------

_WC_CTE = """
wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
)
"""


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_lever_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )


_ZIPF_SLOPE = sql_ss_div(
    "nb * sxy - sx * sy", "nb * sxx - sx * sx", 1000
)


@register(
    "zipf_dyadic_slope_by_source",
    oracle="""
WITH
""" + _WC_CTE + """,
rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, w) AS rnk
  FROM wc
),
pts AS (
  SELECT source,
         CAST(length(bin(rnk)) - 1 AS BIGINT) AS b,
         CAST(SUM(CAST(length(bin(c)) - 1 AS BIGINT)) AS BIGINT) AS ylog,
         CAST(count(*) AS BIGINT) AS nb_types
  FROM rk GROUP BY 1, 2
),
pt AS (
  SELECT source, b, CAST(1000 * ylog // nb_types AS BIGINT) AS y
  FROM pts
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nb,
         CAST(SUM(b) AS BIGINT) AS sx,
         CAST(SUM(b * b) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(b * y) AS BIGINT) AS sxy
  FROM pt GROUP BY 1
)
SELECT source, nb AS n_buckets,
       CASE WHEN nb * sxx - sx * sx > 0
            THEN """ + duck_sql(_ZIPF_SLOPE) + """
       END AS zipf_slope_micro
FROM m ORDER BY source
""",
)
def zipf_dyadic_slope_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYADIC ZIPF SLOPE per source — the Zipf exponent (slope of
    log-frequency vs log-rank) estimated ENTIRELY on the dyadic
    grid so no transcendental ever executes: ranks bucket by
    floor(log₂ rank) = length(bin(rank))−1 (the sketch_log2 string
    trick, exact in both engines), each bucket's mean floor(log₂
    count) lands on the milli grid by one exact division, and the
    slope is the standard OLS Cramer ratio over the ≤ ~17 bucket
    points — a SIGN-SPLIT micro floor-division of exact int64
    moments (slope ≈ −1000 micro ⇔ the classic Zipf −1). The
    distributional-shape complement to vocab_growth_by_source
    (which publishes totals, not the power-law exponent). Scale:
    one (source, token) shuffle, a per-source rank window, then a
    bounded ≤ 17-bucket rollup."""
    wc = _word_counts(spark, sf_dir)
    rk = wc.select(
        "source",
        "c",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(F.desc("c"), "w")
        )
        .alias("rnk"),
    )
    pts = rk.groupBy(
        "source",
        (F.length(F.bin("rnk")) - 1).cast("long").alias("b"),
    ).agg(
        F.sum((F.length(F.bin("c")) - 1).cast("long")).alias("ylog"),
        F.count("*").alias("nb_types"),
    )
    pt = pts.selectExpr(
        "source", "b", "CAST(1000 * ylog div nb_types AS BIGINT) AS y"
    )
    m = pt.groupBy("source").agg(
        F.count("*").alias("nb"),
        F.sum("b").alias("sx"),
        F.sum(F.col("b") * F.col("b")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("b") * F.col("y")).alias("sxy"),
    )
    return m.selectExpr(
        "source",
        "nb AS n_buckets",
        "CASE WHEN nb * sxx - sx * sx > 0 THEN "
        + spark_sql(_ZIPF_SLOPE)
        + " END AS zipf_slope_micro",
    ).orderBy("source")


@register(
    "hellinger_affinity_sources",
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
sa_wc AS (
  SELECT wc.w, wc.c FROM wc, pair WHERE wc.source = pair.sa
),
sb_wc AS (
  SELECT wc.w, wc.c FROM wc, pair WHERE wc.source = pair.sb
),
joined AS (
  SELECT COALESCE(a.c, 0) AS cp, COALESCE(b.c, 0) AS cq
  FROM sa_wc a FULL OUTER JOIN sb_wc b ON b.w = a.w
),
terms AS (
  SELECT CAST(SUM(CAST(floor(1000000 * sqrt(CAST(cp * cq AS DOUBLE))
                  / sqrt(CAST(p.na * p.nb AS DOUBLE)))
              AS BIGINT)) AS BIGINT) AS bc
  FROM joined, pair p
)
SELECT p.sa AS source_a, p.sb AS source_b,
       CAST(p.na AS BIGINT) AS n_a, CAST(p.nb AS BIGINT) AS n_b,
       t.bc AS bc_affinity_ppm,
       1000000 - t.bc AS hellinger_sq_ppm
FROM terms t, pair p
""",
)
def hellinger_affinity_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HELLINGER DISTANCE between the token distributions of the two
    LARGEST sources — the bounded f-divergence drift metric that
    completes the drift quintet (TV = token_drift_tv_distance,
    Wasserstein/KS/CvM/AD on values): H² = 1 − Σ√(pᵢqᵢ), with the
    Bhattacharyya affinity Σ√(pᵢqᵢ) = Σ√(cpᵢ·cqᵢ)/√(N_a·N_b)
    computed PER-TERM-FLOORED on the ppm grid (the anderson_darling
    doctrine): each term is one exact int64 product → one double
    conversion (< 2⁵³ at these SFs, documented) → correctly-rounded
    IEEE sqrt/division → floor, the same expression text in both
    engines. Unlike TV (L1 on shares), Hellinger is
    mass-concentration sensitive — the metric semdedup-style
    distribution matching actually wants. Scale: one (source,
    token) shuffle + one full-outer token join of the two largest
    sources."""
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
    a = (
        wc.join(
            F.broadcast(pair), F.col("source") == F.col("sa"), "inner"
        )
        .select(F.col("w").alias("wa"), F.col("c").alias("cp"))
    )
    b = (
        wc.join(
            F.broadcast(pair.select("sb")),
            F.col("source") == F.col("sb"),
            "inner",
        )
        .select(F.col("w").alias("wb"), F.col("c").alias("cq"))
    )
    joined = a.join(b, F.col("wa") == F.col("wb"), "full_outer").select(
        F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
        F.coalesce(F.col("cq"), F.lit(0)).alias("cq"),
    )
    terms = joined.crossJoin(F.broadcast(pair)).agg(
        F.max("sa").alias("source_a"),
        F.max("sb").alias("source_b"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(
            F.expr(
                "CAST(floor(1000000 * sqrt(CAST(cp * cq AS DOUBLE))"
                " / sqrt(CAST(na * nb AS DOUBLE))) AS BIGINT)"
            )
        ).alias("bc"),
    )
    return terms.selectExpr(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "bc AS bc_affinity_ppm",
        "1000000 - bc AS hellinger_sq_ppm",
    )


@register(
    "bm25_rsj_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
             string_split_regex(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM toks GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(SUM(dlen) AS BIGINT) AS tt
  FROM dl
),
df AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfc
  FROM toks GROUP BY 1
),
qterms AS (
  SELECT w, dfc FROM (
    SELECT w, dfc,
           row_number() OVER (ORDER BY dfc DESC, w) AS rnk
    FROM df
  ) WHERE rnk IN (10, 11, 12)
),
tf AS (
  SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS tfc
  FROM toks t JOIN qterms q ON q.w = t.w
  GROUP BY 1, 2
),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM((2 * g.nd - 2 * q.dfc + 1) * 22
                  * CAST(g.tt AS HUGEINT) * tf.tfc * 1000000
                  // ((2 * q.dfc + 1)
                      * (10 * CAST(g.tt AS HUGEINT) * tf.tfc
                         + 3 * g.tt + 9 * dl.dlen * g.nd)))
              AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS terms_matched,
         CAST(max(dl.dlen) AS BIGINT) AS doc_len
  FROM tf
  JOIN qterms q ON q.w = tf.w
  JOIN dl ON dl.doc_id = tf.doc_id, g
  GROUP BY tf.doc_id
)
SELECT doc_id, terms_matched, doc_len, score_micro
FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
""",
)
def bm25_rsj_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL (k₁ = 1.2, b = 0.75, rational RSJ idf)
    over the documents table — the reference-grade lexical ranker
    tfidf_top_terms stops short of: query = the 3 mid-head terms
    (document-frequency ranks 10–12, deterministic df-then-token
    order), idf = the Robertson–Spärck-Jones ODDS form (N−df+½)/
    (df+½) ≡ (2N−2df+1)/(2df+1) — a pure rational, so the usual log
    never executes (log is monotone: per-term ordering is preserved
    within each term; the summed score is the documented
    rational-idf variant). The whole per-(doc,term) score collapses
    to ONE exact integer ratio: with T = Σdl and N docs,
    tf·(k₁+1)/(tf + k₁(1−b+b·dl·N/T)) = 22·T·tf/(10·T·tf + 3·T +
    9·dl·N) (k₁, b as the rationals 6/5, 3/4) — per-term micro-
    floored (HUGEINT ⟷ decimal(38,0)), summed exactly, top-20 by
    (score, doc_id). Scale: one token explode, a 3-term broadcast
    semi-join (only matching postings survive), per-doc rollup."""
    from spark_lever_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    g = dl.agg(
        F.count("*").alias("nd"), F.sum("dlen").alias("tt")
    )
    df = toks.groupBy("w").agg(
        F.countDistinct("doc_id").alias("dfc")
    )
    qterms = (
        df.select(
            "w",
            "dfc",
            F.row_number()
            .over(Window.orderBy(F.desc("dfc"), "w"))
            .alias("rnk"),
        )
        .filter(F.col("rnk").isin(10, 11, 12))
        .select("w", "dfc")
    )
    tf = (
        toks.join(F.broadcast(qterms), "w")
        .groupBy("doc_id", "w", "dfc")
        .agg(F.count("*").alias("tfc"))
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "(2 * nd - 2 * dfc + 1) * 22"
                    f" * CAST(tt AS {DEC38}) * tfc * 1000000"
                    " div ((2 * dfc + 1)"
                    f" * (10 * CAST(tt AS {DEC38}) * tfc"
                    " + 3 * tt + 9 * dlen * nd))"
                )
            )
            .cast("long")
            .alias("score_micro"),
            F.count("*").alias("terms_matched"),
            F.max("dlen").alias("doc_len"),
        )
    )
    return (
        scored.select(
            "doc_id", "terms_matched", "doc_len", "score_micro"
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Lexical concentration, temporal burstiness, ranking stability
# ---------------------------------------------------------------------------


@register(
    "token_gini_by_source",
    oracle="""
WITH
""" + _WC_CTE + """,
rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c, w) AS i
  FROM wc
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS t,
         CAST(SUM(CAST(i AS HUGEINT) * c) AS HUGEINT) AS ic
  FROM rk GROUP BY 1
)
SELECT source, n AS n_types, t AS n_tokens,
       CASE WHEN n > 0 AND t > 0
            THEN CAST((2 * ic - (CAST(n AS HUGEINT) + 1) * t) * 1000000
                      // (CAST(n AS HUGEINT) * t) AS BIGINT)
       END AS token_gini_ppm
FROM m ORDER BY source
""",
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT OF TOKEN FREQUENCIES per source — lexical
    concentration as economists would measure it (how unequally is
    token mass distributed over the vocabulary): the exact
    rank-formula G = (2Σi·cᵢ − (n+1)Σc)/(n·Σc) over ascending-count
    ranks with deterministic (count, token) tie-breaks — one
    HUGEINT ⟷ decimal(38,0) ppm floor-division, non-negative by the
    rearrangement inequality. The distribution-SHAPE complement to
    yule_k (repeat-rate) and the zipf slope (power-law exponent):
    Gini reads the whole Lorenz curve of the vocabulary.
    Scale: one (source, token) shuffle + per-source rank window."""
    wc = _word_counts(spark, sf_dir)
    rk = wc.select(
        "source",
        "c",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("c", "w"))
        .alias("i"),
    )
    m = rk.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("t"),
        F.sum(F.col("i").cast(DEC38) * F.col("c")).alias("ic"),
    )
    return m.selectExpr(
        "source",
        "n AS n_types",
        "t AS n_tokens",
        "CASE WHEN n > 0 AND t > 0 THEN"
        f" CAST((2 * ic - (CAST(n AS {DEC38}) + 1) * t) * 1000000"
        f" div (CAST(n AS {DEC38}) * t) AS BIGINT)"
        " END AS token_gini_ppm",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Vocabulary growth and source homogeneity: Heaps slope, chi-square
# ---------------------------------------------------------------------------


_HEAPS_SLOPE = sql_ss_div("nb * sxy - sx * sy", "nb * sxx - sx * sx", 1000)


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
            THEN """ + duck_sql(_HEAPS_SLOPE) + """
       END AS heaps_beta_milli
FROM m JOIN fin f ON f.source = m.source
ORDER BY m.source
""",
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
            + spark_sql(_HEAPS_SLOPE)
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
  SELECT """ + duck_sql(_chi_cell("ca", "na")) + """ AS ta,
         """ + duck_sql(_chi_cell("cb", "nb")) + """ AS tb
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
        f"{spark_sql(_chi_cell('ca', 'na'))} AS ta",
        f"{spark_sql(_chi_cell('cb', 'nb'))} AS tb",
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


# ---------------------------------------------------------------------------
# Corpus linguistics: Gries' deviation-of-proportions term dispersion
# ---------------------------------------------------------------------------

_DP_NUM = "abs(CAST(c_ts AS {I}) * t_all - CAST(t_s AS {I}) * c_t)"


@register(
    "term_dispersion_gries_dp",
    oracle="""
WITH """ + _WC_CTE.strip().lstrip("WITH").strip() + """,
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_all FROM wc),
src AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t_s FROM wc GROUP BY 1),
term AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS c_t FROM wc GROUP BY 1
  ORDER BY c_t DESC, w LIMIT 20
),
grid AS (
  SELECT t.w, t.c_t, s.source, s.t_s, tot.t_all,
         CAST(coalesce(x.c, 0) AS BIGINT) AS c_ts
  FROM term t CROSS JOIN src s CROSS JOIN tot
  LEFT JOIN wc x ON x.w = t.w AND x.source = s.source
)
SELECT w AS term, c_t AS total_count,
       CAST(SUM(""" + duck_sql(_DP_NUM) + """) * 1000000
            // (2 * CAST(c_t AS HUGEINT) * t_all) AS BIGINT) AS dp_ppm
FROM grid GROUP BY w, c_t, t_all
ORDER BY total_count DESC, term
""",
)
def term_dispersion_gries_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM DISPERSION (Gries' DP, deviation of proportions) for the
    top-20 corpus terms: DP = ½ Σ_s |v_s − e_s| where v_s is the share
    of the term's occurrences in source s and e_s is source s's share
    of all tokens — 0 means the term spreads exactly like the corpus,
    1 means it is confined to one source. THE corpus-linguistics
    dispersion measure (Gries 2008), and the signal a mixture-weighting
    pipeline uses to separate corpus-wide function words from
    source-bound jargon before reweighting. Exact rational form:
    |c_ts·T − T_s·C_t| summed over ALL sources (zero-count cells
    included via the term×source grid), scaled ppm, floor-divided by
    2·C_t·T (non-negative numerator — floor == truncate in both
    engines). Scale shape: one token-count table feeds three
    aggregations; the grid is top-20 × n_sources — broadcast-sized by
    construction."""
    wc = _word_counts(spark, sf_dir)
    tot = wc.agg(F.sum("c").alias("t_all"))
    src = wc.groupBy("source").agg(F.sum("c").alias("t_s"))
    term = (
        wc.groupBy("w")
        .agg(F.sum("c").alias("c_t"))
        .orderBy(F.desc("c_t"), F.asc("w"))
        .limit(20)
    )
    # Prune wc to the top-20 terms BEFORE the grid join: the pruned
    # side is <= 20 x n_sources rows (broadcast-sized at any SF), so
    # the full vocabulary table never shuffles for a 400-row grid.
    wc_top = wc.join(F.broadcast(term.select("w")), "w").withColumnRenamed(
        "c", "c_raw"
    )
    grid = (
        term.crossJoin(F.broadcast(src))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(wc_top), ["w", "source"], "left")
        .select(
            "w",
            "c_t",
            "t_s",
            "t_all",
            F.coalesce("c_raw", F.lit(0)).alias("c_ts"),
        )
    )
    return (
        grid.groupBy("w", "c_t", "t_all")
        .agg(F.expr(f"SUM({spark_sql(_DP_NUM)})").alias("num"))
        .selectExpr(
            "w AS term",
            "c_t AS total_count",
            spark_sql(
                "CAST(num * 1000000 {D} (2 * CAST(c_t AS {I}) * t_all)"
                " AS BIGINT)"
            )
            + " AS dp_ppm",
        )
        .orderBy(F.desc("total_count"), F.asc("term"))
    )


# ---------------------------------------------------------------------------
# Good-Turing unseen mass by source
# ---------------------------------------------------------------------------


@register(
    "good_turing_unseen_mass_by_source",
    oracle="""
WITH """ + _WC_CTE.strip().lstrip("WITH").strip() + """,
m AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM wc GROUP BY 1
)
SELECT source, total_tokens, vocab, n1, n2,
       CAST(n1 * 1000000 // total_tokens AS BIGINT) AS unseen_ppm,
       CASE WHEN n1 > 0
            THEN CAST(2 * n2 * 1000 // n1 AS BIGINT) END AS r1_star_milli
FROM m ORDER BY source
""",
)
def good_turing_unseen_mass_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOOD-TURING UNSEEN-MASS ESTIMATION per source: the hapax share
    N₁/T estimates the probability mass of never-seen vocabulary
    (Good 1953 — the missing-species estimator under every smoothed
    LM), and the adjusted singleton count r* = 2·N₂/N₁ is the first
    Good-Turing re-estimate. High unseen mass flags a source whose
    vocabulary a tokenizer/LM has not saturated — the
    keep-sampling-or-stop signal for data curation. Integer-exact ppm
    / milli floor divisions on non-negative counts. Scale shape: one
    token-count aggregation then a 20-group rollup, all map-side
    combinable."""
    wc = _word_counts(spark, sf_dir)
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").alias("total_tokens"),
            F.count("*").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"),
        )
        .selectExpr(
            "source",
            "total_tokens",
            "vocab",
            "n1",
            "n2",
            "CAST(n1 * 1000000 div total_tokens AS BIGINT) AS unseen_ppm",
            "CASE WHEN n1 > 0 THEN CAST(2 * n2 * 1000 div n1 AS BIGINT)"
            " END AS r1_star_milli",
        )
        .orderBy("source")
    )
