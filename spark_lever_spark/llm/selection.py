"""Training-data selection operators: domain importance weighting,
hard-negative mining, boilerplate removal.

Members of the LLM-pipeline family (SURVEY.md §7 P5 —
beyond-reference superset; the reference engine has no corpus
tooling). Three capabilities a real pretraining-data pipeline runs
between raw crawl and tokenizer:

- `dsir_importance_weights`: DSIR-style domain-matched data selection
  (Xie et al. 2023, "Data Selection for Language Models via Importance
  Resampling"): score every document by how much its hashed-bigram
  profile resembles a target domain vs the raw pool. DSIR's
  log-likelihood-ratio sum is replaced by the integer-exact linear
  surrogate Σ_f (c_t(f)·R − c_r(f)·T) (same sign structure, monotone
  in each feature's ratio) because ln is not correctly-rounded across
  libms — the tfidf_top_terms / tv_distance doctrine.
- `hard_negative_mining`: for each anchor in a bounded probe batch,
  the most-cosine-similar corpus vector with a DIFFERENT label — the
  contrastive-training negative miner. The probe batch broadcasts and
  the corpus streams past it map-side (the one nested-loop join shape
  this repo sanctions: small-side broadcast, like the decontaminate
  blocklist); per-anchor top-1 is a 50-partition window.
- `text_boilerplate_strip`: C4-style frequency boilerplate removal —
  any 16-token paragraph occurring in >= 2 DISTINCT documents is
  dropped from EVERY document (unlike dedup_paragraph_rebuild, which
  keeps the first occurrence), then documents are rebuilt. Shuffles
  carry paragraph digests, not text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table, spread_scan
from spark_lever_spark.llm.dedup import _PARA_N
from spark_lever_spark.llm.similarity import as_double, cosine
from spark_lever_spark.registry import register

_DSIR_BUCKETS = 256  # hashed bigram feature space (DSIR uses 10k; the
# synthetic corpus's tiny vocabulary saturates anything larger)


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(toks[CAST(i AS INT)] || ' ' ||
                             toks[CAST(i AS INT) + 1]), 1, 8))::BIGINT
           % {_DSIR_BUCKETS} AS bucket
  FROM base, LATERAL unnest(range(1, len(toks))) AS t(i)
),
stats AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr
  FROM occ GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS t, CAST(SUM(cr) AS BIGINT) AS r
  FROM stats
)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s.ct * tot.r - s.cr * tot.t) AS BIGINT) AS score_num
FROM occ o JOIN stats s USING (bucket), tot
GROUP BY o.doc_id
ORDER BY score_num DESC, o.doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance score per document against a target
    domain (lang='en' stands in for "looks like Wikipedia").

    Features are hashed bigrams (md5 → 256 buckets — hashed n-gram
    features exactly as in the paper); c_t/c_r are per-bucket
    occurrence counts in the target/raw pools, T/R their totals, and
    each document scores Σ over its bigram occurrences of
    c_t(f)·R − c_r(f)·T — an exact int64 (headroom: max-count × total
    < 2^63, safe to ~3e9 occurrences per pool; promote to DECIMAL
    beyond — the tv_distance convention). Positive score ⇒
    target-like; resample top-N by score to build the mixed corpus.

    Scale shape: one bigram-occurrence shuffle to build the 256-row
    feature table (re-aggregated from (bucket) partials — mergeable),
    which BROADCASTS back onto the occurrence stream; per-doc scoring
    is then a map-side sum — no joins wider than (occurrences ×
    1-row totals). At a 10k-bucket production space the stats table is
    still broadcast-sized."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    occ = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (x, i) -> concat(x, ' ', toks[i + 1]))"
            )
        ).alias("bigram"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("bigram")), 1, 8), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    stats = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("cr"),
    )
    tot = stats.agg(
        F.sum("ct").cast("long").alias("t"), F.sum("cr").cast("long").alias("r")
    )
    return (
        occ.join(F.broadcast(stats), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("ct") * F.col("r") - F.col("cr") * F.col("t"))
            .cast("long")
            .alias("score_num"),
        )
        .orderBy(F.desc("score_num"), "doc_id")
    )


@register(
    "hard_negative_mining",
    oracle="""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS negative_id, b.label AS negative_label,
         round(list_cosine_similarity(a.v, b.v) * 1000000) / 1000000
           AS cos_sim
  FROM e a JOIN e b ON b.label <> a.label
  WHERE a.vec_id < 50
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos_sim DESC, negative_id) AS rn
  FROM p
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cos_sim
FROM rk WHERE rn = 1 ORDER BY anchor_id
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector in a bounded probe batch (vec_id < 50), the single
    most-cosine-similar corpus vector carrying a DIFFERENT label.

    Scale shape: the probe batch is the small side (a training batch,
    thousands at most) and BROADCASTS; the corpus makes ONE map-side
    pass computing cosines against the resident batch (the only
    sanctioned nested-loop-join shape: broadcast small side — the
    label inequality makes it non-equi by nature), then a per-anchor
    window (50 partitions here, batch-sized generally) takes top-1.
    Ranking orders by the ROUNDED cosine (identical doubles in both
    engines per the fold-order doctrine) with negative_id tiebreak.
    Real miners take top-k with a floor; top-1 pins the semantics."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    anchors = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
    )
    pairs = emb.join(
        F.broadcast(anchors), F.col("label") != F.col("anchor_label")
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        (F.round(cosine(F.col("av"), F.col("v")) * 1000000) / 1000000).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), "negative_id"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("anchor_id")
    )


@register(
    "text_boilerplate_strip",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
),
paras AS (
  SELECT doc_id, CAST(t.p AS BIGINT) AS p,
         list_aggregate(
           toks[CAST(t.p AS INT) * {_PARA_N} + 1
                : CAST(t.p AS INT) * {_PARA_N} + {_PARA_N}],
           'string_agg', ' ') AS para
  FROM base,
       LATERAL unnest(range(CAST(ceil(len(toks) / {_PARA_N}.0) AS BIGINT)))
         AS t(p)
),
boiler AS (
  SELECT md5(para) AS h FROM paras
  GROUP BY md5(para) HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         CAST(length(string_agg(para, ' ' ORDER BY p)) AS BIGINT)
           AS kept_chars
  FROM paras WHERE md5(para) NOT IN (SELECT h FROM boiler)
  GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id)
SELECT t.doc_id, t.n_paras,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.kept_chars, 0) AS kept_chars
FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: any 16-token paragraph appearing
    in >= 2 DISTINCT documents is dropped from EVERY document (headers,
    footers, cookie banners — text whose frequency, not its first
    occurrence, marks it as template). Complements
    dedup_paragraph_rebuild, which keeps first occurrences.

    Scale shape (the dedup_paragraph_rebuild doctrine): the frequency
    pass groups by the 16-byte paragraph md5 carrying only
    (digest, doc_id) — paragraph TEXT never shuffles for counting; the
    strip is a digest equi-join (left_anti — at web scale the
    boilerplate set outgrows broadcast and this stays a hash join);
    the rebuild regroups per document. Output pins kept counts and the
    exact rebuilt length per document, including fully-boilerplate
    documents."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_paras = F.ceil(F.size("toks") / float(_PARA_N)).cast("long")
    paras = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda p: F.array_join(
                    F.slice("toks", p * _PARA_N + 1, _PARA_N), " "
                ),
            )
        ).alias("p", "para"),
    ).withColumn("p", F.col("p").cast("long"))
    hashed = paras.withColumn("h", F.md5("para"))
    boiler = (
        hashed.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    kept = (
        hashed.join(boiler, "h", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.length(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("p", "para"))),
                        lambda s: s["para"],
                    ),
                    " ",
                )
            )
            .cast("long")
            .alias("kept_chars"),
        )
    )
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
        .orderBy("doc_id")
    )


_BPE_ROUNDS = 5

# At or below this vocabulary size the 5 merge rounds run in a
# single-task kernel over the word-count table (optimization r18 —
# the iterative-graph-kernel doctrine from llm/graph.py applied to the
# BPE recursion): each distributed round costs a pair explode +
# aggregation + global top-1 + a driver collect + a persisted rewrite,
# ~3 jobs of scheduling latency for vocabulary-grain work. The
# working set after the first corpus aggregation is the DISTINCT-WORD
# table — bounded by the language, not the corpus — but the gate keeps
# the distributed loop for degenerate vocabularies (100 TB of noise
# can have an unbounded "vocabulary").
_LOCAL_BPE_MAX_WORDS = 2_000_000


def _bpe_local(cur: DataFrame, rounds: int) -> DataFrame:
    """Single-task BPE merge learner over a bounded ``(sym, n)`` word
    frame: the ``(round, left_sym, right_sym, cnt)`` merge table.
    Exactness: pair counts are integer sums over the same adjacency;
    the election is max count with (a, b) string tie-break — Python
    code-point ordering equals Spark/DuckDB binary UTF-8 collation
    (UTF-8 byte order preserves code-point order); the rewrite is the
    same leftmost non-overlapping space-delimited replace (Python
    str.replace == SQL replace on ' a b ' -> ' ab '). Symbol strings
    arrive pre-split by Spark, so no Python-side character splitting
    can diverge."""

    def part(batches):
        from collections import defaultdict

        import pandas as pd

        padded, ns = [], []
        for b in batches:
            padded.extend(" " + s + " " for s in b["sym"].tolist())
            ns.extend(int(x) for x in b["n"].tolist())
        out = []
        for r in range(1, rounds + 1):
            cnt: dict = defaultdict(int)
            for s, n in zip(padded, ns):
                sy = s.split(" ")[1:-1]
                for i in range(len(sy) - 1):
                    cnt[(sy[i], sy[i + 1])] += n
            if not cnt:
                break
            (a, b_), c = min(
                cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((r, a, b_, c))
            pat, rep = f" {a} {b_} ", f" {a}{b_} "
            padded = [
                s.replace(pat, rep) if pat in s else s for s in padded
            ]
        yield pd.DataFrame(
            out, columns=["round", "left_sym", "right_sym", "cnt"]
        ).astype({"round": "int32", "cnt": "int64"})

    return cur.coalesce(1).mapInPandas(
        part, "round int, left_sym string, right_sym string, cnt long"
    )


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled BPE-merge oracle (each round's top pair feeds the next
    round's corpus rewrite — the LPA/k-core mechanical unroll)."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        WHERE text IS NOT NULL)
  WHERE tok <> '' GROUP BY tok
),
s0 AS MATERIALIZED (
  SELECT list_aggregate(string_split(w, ''), 'string_agg', ' ') AS sym, n
  FROM words
)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT sy[CAST(t.i AS INT)] AS a, sy[CAST(t.i AS INT) + 1] AS b,
         CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT string_split(sym, ' ') AS sy, n FROM s{r - 1}),
       LATERAL unnest(range(1, len(sy))) AS t(i)
  GROUP BY 1, 2
),
t{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
),
s{r} AS MATERIALIZED (
  SELECT trim(replace(' ' || sym || ' ',
                      (SELECT ' ' || a || ' ' || b || ' ' FROM t{r}),
                      (SELECT ' ' || a || b || ' ' FROM t{r}))) AS sym, n
  FROM s{r - 1}
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, a AS left_sym, b AS right_sym,"
        f" cnt FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals + "\nORDER BY round"


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich et al. 2016) —
    the tokenizer-training loop run ON the engine: 5 merge rounds,
    each counting adjacent symbol pairs across the corpus (weighted by
    word frequency), electing the most frequent pair (count desc, then
    lexicographic (a, b) — identical string collation both engines)
    and rewriting every word's symbol sequence with the merge applied
    greedily left-to-right (space-delimited `replace`, whose
    leftmost-first non-overlapping scan IS the BPE merge rule in both
    engines; no end-of-word marker — documented simplification).

    Scale shape: everything after the first shuffle runs at VOCABULARY
    grain, not corpus grain — the word-count table is the working set,
    pair counting is one (a, b) aggregation per round, the elected
    pair is a 1-row scalar (driver-collected like the LSH plane
    literals, keeping lineage linear), and the rewrite is map-side.
    Per-round persist + deterministic release (the k-core doctrine)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cur = words.select(
        F.array_join(F.split("w", ""), " ").alias("sym"), "n"
    ).persist()
    if cur.count() <= _LOCAL_BPE_MAX_WORDS:
        # vocabulary-grain single-task kernel (see _LOCAL_BPE_MAX_WORDS;
        # forced-path-pinned to the distributed loop in
        # tests/test_llm_curation.py::test_bpe_kernel_matches_distributed_loop)
        out = _bpe_local(cur, _BPE_ROUNDS).orderBy("round").localCheckpoint(
            eager=True
        )
        cur.unpersist()
        return out
    handles = [cur]
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        with_s = cur.withColumn("s", F.split("sym", " "))
        pairs = with_s.select(
            "n",
            F.explode(
                F.expr(
                    "transform(slice(s, 1, greatest(size(s) - 1, 0)),"
                    " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:  # corpus exhausted (all words single-symbol)
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((r, a, b, cnt))
        cur = cur.select(
            F.btrim(
                F.expr(
                    "replace(concat(' ', sym, ' '),"
                    f" concat(' ', {_sql_str(a)}, ' ', {_sql_str(b)}, ' '),"
                    f" concat(' ', {_sql_str(a)}, {_sql_str(b)}, ' '))"
                )
            ).alias("sym"),
            "n",
        ).persist()
        handles.append(cur)
    for h in handles:
        h.unpersist()
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, cnt long"
    ).orderBy("round")


def _sql_str(s: str) -> str:
    """SQL string literal (single-quote escaped) for driver-collected
    merge symbols embedded in the rewrite expression."""
    return "'" + s.replace("'", "''") + "'"


_BOOL_TERMS = ("batch", "query", "vector")


@register(
    "text_boolean_and_search",
    oracle=f"""
WITH post AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL)
  WHERE tok IN ('{_BOOL_TERMS[0]}', '{_BOOL_TERMS[1]}', '{_BOOL_TERMS[2]}')
),
hits AS (
  SELECT doc_id FROM post GROUP BY doc_id
  HAVING count(DISTINCT tok) = {len(_BOOL_TERMS)}
)
SELECT d.doc_id, d.lang, d.source,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id
""",
)
def text_boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval over an inverted index: documents
    containing ALL query terms, answered from token POSTINGS (one
    distinct (doc, term) row per hit) with a per-doc distinct-term
    count — the boolean-search primitive under every keyword filter.
    Scale shape: the postings build is the only corpus scan (and is
    the artifact a serving system would persist term-partitioned);
    the query touches just the query terms' postings — an equi-join
    on the term, never a per-query corpus scan — and the AND is a
    count filter, extending to k-of-n and OR for free."""
    from spark_lever_spark.llm.dedup import tokens_distinct

    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.explode(tokens_distinct(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok").isin(*_BOOL_TERMS))
    )
    hits = (
        post.groupBy("doc_id")
        .agg(F.count_distinct("tok").alias("nt"))
        .filter(F.col("nt") == len(_BOOL_TERMS))
        .select("doc_id")
    )
    return (
        docs.join(hits, "doc_id")
        .select("doc_id", "lang", "source", F.col("n_chars").cast("long"))
        .orderBy("doc_id")
    )


def _bpe_apply_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled oracle for bpe_apply_encode: the SAME per-round pair
    election as _bpe_oracle, but the word string ``w`` rides through
    every rewrite so the final symbol counts can join back onto the
    document token stream."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        WHERE text IS NOT NULL)
  WHERE tok <> '' GROUP BY tok
),
a0 AS MATERIALIZED (
  SELECT w, list_aggregate(string_split(w, ''), 'string_agg', ' ') AS sym, n
  FROM words
)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT sy[CAST(t.i AS INT)] AS a, sy[CAST(t.i AS INT) + 1] AS b,
         CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT string_split(sym, ' ') AS sy, n FROM a{r - 1}),
       LATERAL unnest(range(1, len(sy))) AS t(i)
  GROUP BY 1, 2
),
t{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
),
a{r} AS MATERIALIZED (
  SELECT w,
         trim(replace(' ' || sym || ' ',
                      (SELECT ' ' || a || ' ' || b || ' ' FROM t{r}),
                      (SELECT ' ' || a || b || ' ' FROM t{r}))) AS sym, n
  FROM a{r - 1}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
wmap AS MATERIALIZED (
  SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sym
  FROM a{rounds}
),
doc_tok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    WHERE text IS NOT NULL)
  WHERE tok <> ''
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(m.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(d.tok)) AS BIGINT) AS n_chars,
       round(CAST(SUM(length(d.tok)) AS DOUBLE) / SUM(m.n_sym) * 10000)
           / 10000 AS chars_per_bpe_token
FROM doc_tok d JOIN wmap m ON m.w = d.tok
GROUP BY d.doc_id ORDER BY d.doc_id
"""
    )


@register(
    "bpe_apply_encode",
    oracle=_bpe_apply_oracle(),
)
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER APPLICATION — the companion to bpe_learn_merges'
    training loop: learn the 5 merges on the corpus vocabulary, then
    ENCODE every document with them and report per-document token
    economics (whitespace tokens vs BPE symbols vs chars; chars per
    BPE token is the compression a tokenizer buys). The apply step is
    where the scale design pays off: merges rewrite the VOCABULARY
    table (bounded), and documents join their tokens against the
    word -> symbol-count map — the corpus-grain pass is one
    vocabulary-keyed equi-join, never a per-document merge loop. The
    oracle unrolls the identical 5 elections + rewrites with the word
    key carried through, so a drifted election or a wrong greedy
    rewrite changes some word's symbol count and cannot hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cur = words.select(
        "w", F.array_join(F.split("w", ""), " ").alias("sym"), "n"
    ).persist()
    handles = [cur]
    for _ in range(_BPE_ROUNDS):
        with_s = cur.withColumn("s", F.split("sym", " "))
        pairs = with_s.select(
            "n",
            F.explode(
                F.expr(
                    "transform(slice(s, 1, greatest(size(s) - 1, 0)),"
                    " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        cur = cur.select(
            "w",
            F.btrim(
                F.expr(
                    "replace(concat(' ', sym, ' '),"
                    f" concat(' ', {_sql_str(a)}, ' ', {_sql_str(b)}, ' '),"
                    f" concat(' ', {_sql_str(a)}, {_sql_str(b)}, ' '))"
                )
            ).alias("sym"),
            "n",
        ).persist()
        handles.append(cur)
    wmap = cur.select(
        "w", F.size(F.split("sym", " ")).cast("long").alias("n_sym")
    )
    doc_tok = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    out = (
        doc_tok.join(wmap, doc_tok.tok == wmap.w)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ws_tokens"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.sum(F.length("tok")).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_ws_tokens",
            "n_bpe_tokens",
            "n_chars",
            (
                F.round(
                    F.col("n_chars").cast("double")
                    / F.col("n_bpe_tokens")
                    * 10000
                )
                / 10000
            ).alias("chars_per_bpe_token"),
        )
        .orderBy("doc_id")
    )
    # the per-round persists only served the iterative election
    # collects; the elected merges are baked into the plan as string
    # LITERALS, so releasing the handles leaves a fully deterministic
    # vocabulary-grain lineage the final action simply recomputes
    for h in handles:
        h.unpersist()
    return out
