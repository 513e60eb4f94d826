"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-safe and driver-collect-free (designed for
the 100 TB point; verified on the synthetic `documents` table):

- exact dedup: md5 content fingerprint → groupBy. One shuffle on the
  16-byte digest, never on the document text itself (at 100 TB the
  shuffle carries digests + doc ids, not payloads).
- near-dup via n-gram Jaccard: token-set overlap join with cheap
  blocking (same lang + length band) to keep the candidate-pair count
  subquadratic.
- MinHash + LSH banding: k deterministic hash functions over the token
  set, banded into b buckets; candidate pairs share a band bucket.
  The md5-affine hash family is engine-independent, so DuckDB replays
  the identical computation (`_MINHASH_SQL_CTES`); recall is
  additionally verified against brute-force Jaccard in
  tests/test_llm_dedup.py.
- SimHash: 64-bit sign-aggregated token hashes; near-dups = small
  Hamming distance, blocked by 16-bit chunks (pigeonhole: distance<=3
  implies >=1 of 4 chunks equal).

Audits of those families: Lincoln-Petersen duplicate estimate, simhash
bit balance, inter-source shingle overlap, threshold sweep; and
cross-source entity resolution (LSH blocking, signature screen, exact
verification, component merge) with its duplication matrix and
blocking-quality audit.

Everything uses built-in JVM expressions (md5/conv/bit ops/higher-order
array functions) — zero Python UDFs in any hot path.

Density note: the synthetic corpus draws from a ~31-word vocabulary, so
pairwise Jaccard between ordinary documents is high (~0.5-0.8) and the
8x4 banding (s50 ~ 0.6) correctly emits a DENSE candidate graph. That
is the corpus, not a bug; it is also why the band join must carry bare
doc-id pairs (signatures re-attached per distinct pair) — anything
wider through that join multiplies by the collision count. A real web
corpus at the same banding yields a sparse graph; `tune_lsh_banding`
picks (bands, rows) from a sampled similarity histogram — minimizing
expected candidates over the 1-(1-s^r)^b S-curve subject to a recall
floor at the dup threshold — with the fixed 8x4 form kept as the
registry/oracle parity path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import checkpoint, load_table, pin, spread_scan
from spark_lever_spark.llm.curation import _SH3_CTE, _shingles3
from spark_lever_spark.registry import register

# ---------------------------------------------------------------------------
# shared helpers (importable API surface, not just query closures)
# ---------------------------------------------------------------------------


def content_fingerprint(col: Column) -> Column:
    """128-bit md5 content fingerprint of a text column (hex string)."""
    return F.md5(F.encode(col, "UTF-8"))


def normalized_text(col: Column) -> Column:
    """Lowercased, whitespace-collapsed normalization for fuzzy-exact dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens_distinct(col: Column) -> Column:
    """Distinct non-empty whitespace tokens of a text column."""
    return F.array_distinct(
        F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))
    )


def token_hash(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a token via md5 (endianness-
    and engine-independent, unlike Spark's murmur `hash`): the first 15
    hex digits, so it is a non-negative BIGINT in Spark and DuckDB. Its
    callers are SimHash fingerprints, which read bits 0-59.
    """
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast(
        "long"
    )


_MINHASH_P = (1 << 31) - 1  # Mersenne prime 2147483647
_MINHASH_K = 32  # signature length: every LSH banding splits these


def _mh_coeff(tag: str, i: int, lo: int) -> int:
    """Deterministic md5-derived coefficient in [lo, p-1] — large
    enough that a_i*x actually wraps mod p (see minhash_signature)."""
    import hashlib

    v = int(hashlib.md5(f"minhash-{tag}-{i}".encode()).hexdigest()[:15], 16)
    return lo + v % (_MINHASH_P - lo)


_MH_A = tuple(_mh_coeff("a", i, 1) for i in range(64))
_MH_B = tuple(_mh_coeff("b", i, 0) for i in range(64))


def minhash_signature(tokens_hashed: str, k: int) -> Column:
    """k-permutation MinHash signature over the array<long> column
    ``tokens_hashed`` of token hashes: h_i(x) = (a_i*(x mod p) + b_i)
    mod p over p = 2^31-1 with md5-derived a_i in [1, p) and b_i in
    [0, p) — the classic pairwise-independent affine family.

    The coefficients MUST be large enough to wrap mod p: with small
    multipliers (the original a=2i+1 over p=2^61-1 and 40-bit token
    hashes) a*x+b never exceeds p, every map is order-PRESERVING, all
    k positions select the same min token, and MinHash silently
    degenerates to "same min-token?" (k=1 — est_jaccard collapses to
    {0,1} and banding selectivity becomes a no-op). p = 2^31-1 keeps
    the product (p-1)*(p-1) < 2^62 — exact int64 in both Spark and
    DuckDB, no overflow wrap to diverge on.

    Returns array<long> of length k: ONE SQL expression of k
    ``transform``s with INT coefficient literals (the Column API spends
    thousands of py4j round trips building the k lambdas; one
    ``transform`` nested over a coefficient array runs slower)."""
    terms = ", ".join(
        f"array_min(transform({tokens_hashed}, x -> "
        f"((x % {_MINHASH_P}) * {_MH_A[i]} + {_MH_B[i]}) % {_MINHASH_P}))"
        for i in range(k)
    )
    return F.expr(f"array({terms})")


def minhash_bands(docs: DataFrame, bands: int = 8) -> tuple[DataFrame, DataFrame]:
    """(signatures, band table) for LSH over a ``doc_id, text`` frame:
    ``_MINHASH_K``-long signatures cut into ``bands`` bands.

    Returns ``sig`` = (doc_id, sig array<long>) and ``banded`` =
    (doc_id, band_idx, band_digest) — the long-format band table every
    LSH consumer joins on. Shared by full-corpus pair generation
    (dedup_minhash_lsh) and incremental delta dedup
    (dedup_incremental_minhash); the digests are md5-affine so DuckDB
    replays them exactly (_MINHASH_BAND_CTES)."""
    rows_per_band = _MINHASH_K // bands
    # Parallelize the signature map: a single small parquet file scans
    # as ONE partition, serializing the k-hash minhash stage (measured
    # 7.4 s of the election query's candidate phase at sf0.1; the r12
    # repartition experiment regressed only because it pre-dated the
    # AQE-planned join downstream — with AQE the repartitioned variant
    # re-measured 16.4 -> 3.5 s warm, identical pair sets). At cluster
    # scale the input already carries >= parallelism partitions and
    # this is a no-op; results are per-doc deterministic either way.
    # catalog.spread_scan estimates scan width from the file listing
    # instead of a plan-to-RDD conversion per call (that conversion
    # planned the whole query a second time on the driver).
    docs = spread_scan(docs)
    # Two-projection split (optimization r18, guide §1.2 per-task
    # work): the k permutations each reference the hashed-token array,
    # and higher-order functions are CodegenFallback — inlining the
    # tokenize+md5 subtree into minhash_signature's k array_min
    # expressions re-evaluates it per permutation. Materializing the
    # array in its OWN projection makes the per-token md5 run once per
    # doc (CollapseProject keeps the boundary: the producer is non-
    # cheap and consumed k times). Warm A/B at sf0.1: 1.07 -> 0.67 s
    # for the bare signature map, identical rows. The projection is
    # tokens_distinct, then token_hash per token, written as ONE SQL
    # expression like minhash_signature (the Column API spent about
    # 129 py4j round trips building its two lambdas).
    hashed = docs.select(
        "doc_id",
        F.expr(
            r"transform(array_distinct(filter(split(text, '\\s+'), t -> t != '')),"
            r" t -> CAST(conv(substring(md5(encode(t, 'UTF-8')), 1, 10), 16, 10)"
            r" AS BIGINT)) AS _th"
        ),
    )
    sig = hashed.select(
        "doc_id",
        minhash_signature("_th", _MINHASH_K).alias("sig"),
    )
    # the band digests as one SQL expression too (minhash_signature)
    digests = ", ".join(
        "md5(encode(concat_ws('-', {}), 'UTF-8'))".format(
            ", ".join(
                f"CAST(sig[{j}] AS STRING)"
                for j in range(i * rows_per_band, (i + 1) * rows_per_band)
            )
        )
        for i in range(bands)
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({digests})")).alias("band_idx", "band_digest"),
    )
    return sig, banded


# tune_lsh_banding's contract: sample at most this many docs, and keep
# recall >= _LSH_MIN_RECALL on pairs at Jaccard _LSH_DUP_THRESHOLD
_LSH_SAMPLE_DOCS = 150
_LSH_DUP_THRESHOLD = 0.95
_LSH_MIN_RECALL = 0.9


def sample_pair_jaccards(docs: DataFrame) -> list[float]:
    """Deterministic sample of pairwise token-set Jaccard similarities.

    Docs are sampled by md5 hash-bucket on doc_id (row-property
    membership — no RNG, stable across runs/partitionings, the
    curation.py sampling doctrine), capped at ``_LSH_SAMPLE_DOCS``;
    exact Jaccard is computed for all sampled pairs on the driver
    (≤ _LSH_SAMPLE_DOCS²/2 pairs — a few thousand, the one place a
    driver collect is legitimate, same as the LSH plane literals).
    """
    modulus = max(1, docs.count() // _LSH_SAMPLE_DOCS)
    sample = (
        docs.select(F.col("doc_id"), tokens_distinct(F.col("text")).alias("ts"))
        .filter(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % modulus
            == 0
        )
        # ordered limit: a bare limit() picks partition-order-dependent
        # rows — the tuned (bands, rows) must not vary across runs
        .orderBy("doc_id")
        .limit(_LSH_SAMPLE_DOCS)
    )
    # Pair enumeration runs on the DRIVER over the collected sample
    # (optimization r18, guide §1.2: the old broadcast self-join
    # materialized the filter+sort+limit subtree once per join side —
    # two extra full corpus scans plus two job round-trips for a
    # ≤ _LSH_SAMPLE_DOCS² pair grid that fits in microseconds of Python).
    # Tokenization stays IN Spark (the collected `ts` is
    # tokens_distinct's output), so only exact integer set arithmetic
    # happens here; len(A∩B)/|A∪B| over ints divides to the identical
    # IEEE double the old array_intersect/array_union expression
    # produced. Zero-token pairs (union empty) are skipped — the SQL
    # oracle's token join never emits them and they contribute exactly
    # 0 to every banding option's expected count.
    rows = sorted(sample.collect(), key=lambda r: r.doc_id)
    toks = [set(r.ts) for r in rows]
    out: list[float] = []
    for i in range(len(toks)):
        for j in range(i + 1, len(toks)):
            inter = len(toks[i] & toks[j])
            union = len(toks[i]) + len(toks[j]) - inter
            if union:
                out.append(inter / union)
    return out


def tune_lsh_banding(docs: DataFrame) -> tuple[int, int]:
    """Choose LSH ``(bands, rows)`` from the corpus's sampled
    similarity histogram instead of a fixed (8, 4).

    The fixed 8x4 banding (s50 = (1/8)^(1/4) ≈ 0.59) is correct for a
    sparse web corpus but floods a high-background-similarity corpus
    with candidates (the documented density caveat: the synthetic
    31-word vocabulary gives ordinary pairs J ≈ 0.5-0.8). This helper
    picks, among all (b, r) with b·r = _MINHASH_K, the banding that
    MINIMIZES the expected candidate-pair count over the sampled
    background histogram — Σ_pairs P(candidate | J) with
    P = 1 − (1 − J^r)^b — subject to
    P(candidate | _LSH_DUP_THRESHOLD) ≥ _LSH_MIN_RECALL. Pure
    driver-side arithmetic over a bounded sample; the fixed form
    remains the registry/oracle parity path.
    """
    sims = sample_pair_jaccards(docs)
    k, dup_threshold = _MINHASH_K, _LSH_DUP_THRESHOLD
    # descending r: on an all-zero background (sparse corpus) every
    # option ties at expected 0 — prefer the most selective banding
    options = [(k // r, r) for r in range(k, 0, -1) if k % r == 0]
    best: tuple[float, int, int] | None = None
    for b, r in options:
        # quantize every compared quantity to 6 decimals — pow is not
        # correctly-rounded, so a sub-ulp libm difference between
        # Python ** and DuckDB power() must not be able to flip the
        # recall gate or the expected-candidates argmin. The oracle
        # quantizes with the IDENTICAL floor(x*1e6 + 0.5)/1e6 formula
        # (Python's round() is half-even, DuckDB's is half-away — the
        # explicit form sidesteps both; ADVICE round 8 +
        # functions/exact.py doctrine).
        recall = math.floor((1.0 - (1.0 - dup_threshold**r) ** b) * 1e6 + 0.5) / 1e6
        if recall < _LSH_MIN_RECALL:
            continue
        expected = (
            math.floor(sum(1.0 - (1.0 - s**r) ** b for s in sims) * 1e6 + 0.5)
            / 1e6
        )
        if best is None or expected < best[0]:
            best = (expected, b, r)
    if best is None:  # no option meets recall: fall back to max recall
        b, r = max(options, key=lambda br: 1 - (1 - dup_threshold ** br[1]) ** br[0])
        return b, r
    return best[1], best[2]


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the min-id representative per content digest."""
    return (
        docs.withColumn("fp", content_fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# registered parity queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_md5",
    oracle="""
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_id
""",
)
def dedup_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5 content fingerprint — shuffles digests, not text."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs).orderBy("keep_id")


@register(
    "dedup_exact_normalized",
    oracle="""
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_id
""",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lower/trim/space-collapse)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", content_fingerprint(normalized_text(F.col("text"))))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, lang, n_chars,
         unnest(string_split_regex(text, '\\s+')) AS word
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE word <> ''),
card AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM tok2 a JOIN tok2 b
    ON a.word = b.word AND a.doc_id < b.doc_id
   AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 30
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / (ca.n_tok + cb.n_tok - n_common), 4)
           AS jaccard
FROM pairs
JOIN card ca ON ca.doc_id = id_a
JOIN card cb ON cb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (ca.n_tok + cb.n_tok - n_common) >= 0.8
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by exact token-set Jaccard ≥ 0.8 with
    AllPairs/PPJoin prefix filtering (Bayardo et al. WWW'07; Xiao et
    al. ICDE'08).

    Candidate generation joins only each document's PREFIX — its
    rarest ``n - ceil(t·n) + 1`` distinct tokens under a global
    (doc-frequency, token) total order — instead of every token: two
    sets with Jaccard ≥ t MUST share a prefix token under the same
    order, so the filter is lossless (the unchanged exact-Jaccard
    DuckDB oracle is the proof obligation). A naive full-token join is
    quadratic in document frequency — on this corpus's dense 31-word
    vocabulary it materializes ~250M intermediate rows (17s at sf0.1;
    8.5x slower), and on a zipfian web corpus every stop-word does the
    same at 100 TB. Verification then computes the exact intersection
    per surviving pair with one array_intersect over the two token
    arrays — equi-joins throughout (plan-pinned: no nested loops).

    Scale shapes: the doc-frequency table is one agg, broadcast here;
    at web scale it outgrows broadcast and becomes a shuffled join (or
    a CountMinSketch approximation — rank order, not exact counts, is
    all the prefix needs). Blocking (same lang, |len diff| <= 30)
    rides along in the prefix equi-join as residual predicates.
    """
    t = 0.8
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        tokens_distinct(F.col("text")).alias("toks"),
    )
    tok = base.select(
        "doc_id", "lang", "n_chars", F.explode("toks").alias("word")
    )
    # document frequency (tok rows are distinct per doc already)
    dfreq = tok.groupBy("word").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "word")
    pref = (
        tok.join(F.broadcast(dfreq), "word")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n_tok", F.count("*").over(Window.partitionBy("doc_id")))
        .where(
            F.col("rnk")
            <= F.col("n_tok") - F.ceil(F.lit(t) * F.col("n_tok")) + 1
        )
        .select("doc_id", "lang", "n_chars", "word")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 30),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    ta = base.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb"))
    jac = n_common.cast("double") / (
        F.size("ta") + F.size("tb") - n_common
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(jac >= t)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# The minhash hash family is md5-affine, so DuckDB can replay it
# exactly: 40-bit token hashes from hex md5 prefixes, k=32 affine
# permutations h_i(x) = (a_i*(x mod p) + b_i) mod p over p = 2^31-1
# with the same md5-derived (a_i, b_i) literals the Spark side uses
# (generated from _MH_A/_MH_B below — single source of truth), 8x4
# band digests. Products stay < 2^62: exact int64 in both engines.
_MH_VALUES = ",\n         ".join(
    f"({i}, {_MH_A[i]}, {_MH_B[i]})" for i in range(32)
)

_MINHASH_SIG_CTES = f"""
tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
),
th AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 10))::BIGINT AS h FROM tok
),
sig AS MATERIALIZED (
  SELECT doc_id, p.i,
         MIN(((h % 2147483647) * p.a + p.b) % 2147483647) AS s
  FROM th,
       (VALUES {_MH_VALUES}) p(i, a, b)
  GROUP BY doc_id, p.i
)
"""

_MINHASH_BAND_CTES = _MINHASH_SIG_CTES.rstrip() + """,
banded AS MATERIALIZED (
  SELECT doc_id, i // 4 AS band_idx,
         md5(string_agg(CAST(s AS VARCHAR), '-' ORDER BY i)) AS band_digest
  FROM sig GROUP BY doc_id, i // 4
)
"""

_MINHASH_SQL_CTES = _MINHASH_BAND_CTES + """,
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_digest = b.band_digest
   AND a.doc_id < b.doc_id
),
est AS MATERIALIZED (
  SELECT c.id_a, c.id_b,
         ROUND(CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS DOUBLE)
               / 32.0, 4) AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
  GROUP BY c.id_a, c.id_b
)
"""


@register(
    "dedup_minhash_lsh",
    # deterministic md5-affine hash family — DuckDB replays the exact
    # signature/banding computation (recall property additionally
    # proven vs brute-force Jaccard in tests/test_llm_dedup.py)
    oracle=f"""
WITH {_MINHASH_SQL_CTES}
SELECT id_a, id_b, est_jaccard FROM est ORDER BY id_a, id_b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=32) + LSH banding (8 bands x 4 rows) candidate pairs.

    Pipeline: tokens → 40-bit md5 hashes → k-permutation signature →
    band digests → self-join on (band_idx, band_digest) → distinct
    candidate pairs with estimated similarity = fraction of matching
    signature positions. At scale the band join is the only shuffle
    that matters and its keys are uniformly-distributed digests.
    """
    docs = load_table(spark, sf_dir, "documents")
    return checkpoint(
        lsh_candidate_pairs(docs).orderBy("id_a", "id_b")
    )


def lsh_candidate_pairs(docs: DataFrame, bands: int = 8) -> DataFrame:
    """Distinct LSH candidate pairs ``(id_a, id_b, est_jaccard)`` for
    any ``(bands, _MINHASH_K // bands)`` banding — the shared core of
    the fixed and tuned registry queries.

    The band self-join carries ONLY (doc_id, band digest): duplicate
    docs share all bands, so routing the k-long signatures through the
    exploded join would replicate each signature once per
    (band, matching neighbor) — measured as a driver-heap OOM at sf0.1
    and a shuffle explosion at scale. Pairs are deduplicated down to
    bare id pairs first; signatures re-attach afterwards, once per
    distinct pair."""
    sig, banded = minhash_bands(docs, bands=bands)
    # sig feeds THREE consumers (the band table and both signature
    # re-attach sides), so without a persist the k-hash signature map
    # — the pipeline's expensive stage — runs three times (the r16
    # containment-fix recompute class). Corpus-linear, spills to disk.
    # The returned frame is lazy: the pin lasts until the caller's pin
    # scope ends, after the caller has pinned or collected its result.
    sig = pin(sig)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
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
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = pairs.join(sa, "id_a").join(sb, "id_b")
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ).cast("double") / F.lit(float(_MINHASH_K))
    return cand.select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))


# DuckDB replay of tune_lsh_banding: the tuner is deterministic given
# the corpus (md5-bucket sample, ordered limit, closed-form S-curve
# arithmetic over divisor-of-k options), so the ORACLE re-runs the
# whole tuning decision in SQL — sample pairs, score every (b, r)
# option, pick argmin expected-candidates subject to the recall floor
# (ties broken to larger r, mirroring the Python loop's descending-r
# strict-< scan) — then runs the banding it chose. Zero-Jaccard sample
# pairs never appear in the token join, which is safe: they contribute
# exactly 0 to every option's expected count.
# The CTE chain up to `tune_est`/`choice` is shared with the tuned
# election oracle in llm/graph.py (round-9: the cluster-election path
# consumes the tuner's banding too), so it is factored as a constant.
_TUNED_EST_CTES = f"""{_MINHASH_SIG_CTES.rstrip()},
smod AS (SELECT greatest(1, count(*) // 150) AS m FROM documents),
samp AS MATERIALIZED (
  SELECT d.doc_id FROM documents d, smod
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        % smod.m = 0
  ORDER BY d.doc_id LIMIT 150
),
stok AS MATERIALIZED (
  SELECT t.doc_id, t.tok FROM tok t JOIN samp s ON s.doc_id = t.doc_id
),
scnt AS (SELECT doc_id, count(*) AS c FROM stok GROUP BY doc_id),
spair AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE)
         / CAST(ca.c + cb.c - count(*) AS DOUBLE) AS j
  FROM stok a
  JOIN stok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  JOIN scnt ca ON ca.doc_id = a.doc_id
  JOIN scnt cb ON cb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, ca.c, cb.c
),
opts AS (SELECT * FROM (VALUES (1, 32), (2, 16), (4, 8), (8, 4),
                               (16, 2), (32, 1)) o(b, r)),
scored AS (
  -- floor(x*1e6 + 0.5)/1e6 on both the recall gate and the expected
  -- count mirrors the Python tuner's quantization bit-for-bit: a
  -- sub-ulp power() vs ** difference cannot flip the gate or the
  -- argmin (round(x, n) is half-away in DuckDB but half-even in
  -- Python, so the explicit form is used on BOTH sides)
  SELECT o.b, o.r,
         floor(coalesce(sum(1 - power(1 - power(p.j, o.r), o.b)), 0)
               * 1e6 + 0.5) / 1e6 AS expected
  FROM opts o LEFT JOIN spair p ON true
  WHERE floor((1 - power(1 - power(0.95, o.r), o.b)) * 1e6 + 0.5) / 1e6
        >= 0.9
  GROUP BY o.b, o.r
),
choice AS (SELECT b, r FROM scored ORDER BY expected ASC, r DESC LIMIT 1),
tbanded AS MATERIALIZED (
  SELECT doc_id, i // c.r AS band_idx,
         md5(string_agg(CAST(s AS VARCHAR), '-' ORDER BY i)) AS band_digest
  FROM sig, choice c
  GROUP BY doc_id, i // c.r
),
tcand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tbanded a
  JOIN tbanded b ON a.band_idx = b.band_idx
   AND a.band_digest = b.band_digest AND a.doc_id < b.doc_id
),
tune_est AS (
  SELECT c.id_a, c.id_b,
         ROUND(CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS DOUBLE)
               / 32.0, 4) AS est_jaccard
  FROM tcand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
  GROUP BY c.id_a, c.id_b
)"""

_TUNED_LSH_SQL = f"""
WITH {_TUNED_EST_CTES}
SELECT CAST(ch.b AS INT) AS bands, CAST(ch.r AS INT) AS rows_per_band,
       e.id_a, e.id_b, e.est_jaccard
FROM tune_est e, choice ch
ORDER BY id_a, id_b
"""


@register(
    "dedup_minhash_lsh_tuned",
    oracle=_TUNED_LSH_SQL,
)
def dedup_minhash_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs under the ADAPTIVE banding chosen by
    ``tune_lsh_banding`` — the tuner made actionable end-to-end. The
    tuner samples the corpus's pairwise-
    Jaccard background histogram (deterministic md5-bucket sample, no
    RNG) and picks, among all (b, r) with b*r = 32, the banding that
    minimizes the expected candidate count subject to recall >= 0.9 at
    J = 0.95; on this synthetic high-background-similarity corpus that
    lands on a MORE selective banding than the fixed 8x4 (pinned by
    tests/test_llm_dedup.py::test_tuned_banding_reduces_sf_corpus_
    candidates: tuned candidates < fixed candidates at equal recall on
    exact duplicates). The oracle replays the ENTIRE decision in
    DuckDB — sample, score, argmin, band — so a hash match certifies
    both the tuning choice (fronted as literal bands/rows_per_band
    columns) and the resulting pair set. The fixed 8x4 form
    (dedup_minhash_lsh) remains the parity path."""
    docs = load_table(spark, sf_dir, "documents")
    b, r = tune_lsh_banding(docs)
    return checkpoint(
        lsh_candidate_pairs(docs, bands=b)
        .select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "id_a",
            "id_b",
            "est_jaccard",
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_simhash",
    # same md5-derived determinism as minhash: DuckDB recomputes the
    # 60-bit simhash, the 4x15-bit chunk blocking, and exact hamming
    # (pigeonhole guarantee additionally proven in tests/test_llm_dedup.py)
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
),
th AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
),
bits AS MATERIALIZED (
  SELECT doc_id, p.j,
         SUM(CASE WHEN ((h >> p.j) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(60)) AS j) p
  GROUP BY doc_id, p.j
),
sim AS MATERIALIZED (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
chunked AS MATERIALIZED (
  SELECT doc_id, simhash, p.c AS chunk_idx,
         (simhash >> (p.c * 15)) & 32767 AS chunk
  FROM sim, (SELECT unnest(range(4)) AS c) p
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunked a
JOIN chunked b
  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs with chunk blocking.

    Per doc: for each bit j, sum +-1 over token hashes' bit j; sign
    gives the simhash bit. Near-dup candidates block on one of four
    15-bit chunks being equal (pigeonhole for hamming<=3), then exact
    hamming distance via bit_count(xor).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_distinct(F.col("text"))).alias("word")
    ).withColumn("h", token_hash(F.col("word")))
    bit = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j"),
        "h",
    ).withColumn(
        "contrib",
        F.when(F.expr("(shiftright(h, j) & 1)") == 1, 1).otherwise(-1),
    )
    # bit j set iff the weighted sum is positive; assemble the 64-bit
    # word with bit_or (no additive overflow concerns under ANSI mode).
    sim = (
        bit.groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("s"))
        .withColumn(
            "bitval",
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("doc_id")
        .agg(F.bit_or("bitval").alias("simhash"))
    )
    chunked = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_idx"),
    ).withColumn(
        "chunk",
        F.expr("shiftright(simhash, chunk_idx * 15) & 32767"),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        # the 4x15-bit chunk blocking is a pigeonhole guarantee only for
        # hamming <= 3 (4 chunks, so <=3 flipped bits leave one chunk
        # intact); distances 4+ are found only when flips happen to
        # cluster, so emitting them would be a hash-dependent subset —
        # filter to the distance the blocking actually guarantees
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


@register(
    "source_overlap_matrix",
    oracle="""
WITH base AS (
  SELECT source, string_split(text, ' ') AS l FROM documents
),
grams AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(unnest(list_transform(
             range(1, greatest(len(l) - 6, 1)),
             i -> list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + 7],
                                 'string_agg', ' ')))), 1, 12))::BIGINT AS gh
  FROM base
),
sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_grams
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.source < b.source
  GROUP BY source_a, source_b
)
SELECT s.source_a, s.source_b, s.shared_grams,
       CAST(s.shared_grams AS DOUBLE)
         / (sa.n + sb.n - s.shared_grams) AS jaccard
FROM shared s
JOIN sizes sa ON s.source_a = sa.source
JOIN sizes sb ON s.source_b = sb.source
ORDER BY source_a, source_b
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct 8-token-gram overlap
    (count + Jaccard) for every source pair — the leakage audit a
    training pipeline runs before mixing corpora, at the same gram
    grain as benchmark decontamination (text_decontaminate).

    Scale shape: text reduces to distinct (source, 48-bit gram hash)
    rows before any join; the pair join is equi-hash on the gram hash
    with fan-out bounded by sources-per-gram; the per-source totals
    are a tiny broadcast. Never a cartesian, never text in a shuffle."""
    from spark_lever_spark.llm.curation import _md5_long, _token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "source", F.split(F.col("text"), " ").alias("toks")
        )
        .select(
            "source",
            F.explode(_token_ngrams(F.col("toks"), 8)).alias("gram"),
        )
        .select("source", _md5_long(F.col("gram"), 12).alias("gh"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_grams"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb")))
    return (
        shared.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            (
                F.col("shared_grams").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_grams"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "fuzzy_join_customer_names",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey < 200
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM c a JOIN c b
  ON length(a.c_name) = length(b.c_name)
 AND substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
""",
)
def fuzzy_join_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: name pairs within Levenshtein distance 1,
    candidate-blocked on (length, 12-char prefix) so the expensive
    edit-distance only runs on an equi-joined candidate set — the
    blocking-then-verify shape every entity-resolution pipeline uses
    (and the same subquadratic discipline as the MinHash/SimHash
    dedups: the blocking key is an equality join, never an all-pairs
    theta). Levenshtein agrees exactly across engines (classic DP,
    probed)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            "c_name",
            F.length("c_name").alias("blk_len"),
            F.substring("c_name", 1, 12).alias("blk_pre"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.blk_len") == F.col("b.blk_len"))
            & (F.col("a.blk_pre") == F.col("b.blk_pre"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(dist <= 1)
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            dist.alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
WITH {_MINHASH_BAND_CTES},
dupc AS (
  SELECT DISTINCT b.doc_id
  FROM banded b JOIN banded c
    ON c.band_idx = b.band_idx AND c.band_digest = b.band_digest
  WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
),
dupb AS (
  SELECT DISTINCT b.doc_id
  FROM banded b JOIN banded c
    ON c.band_idx = b.band_idx AND c.band_digest = b.band_digest
  WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 = 0 AND c.doc_id < b.doc_id
)
SELECT t.doc_id,
       dupc.doc_id IS NOT NULL AS dup_vs_corpus,
       dupb.doc_id IS NOT NULL AS dup_in_batch
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) t
LEFT JOIN dupc ON dupc.doc_id = t.doc_id
LEFT JOIN dupb ON dupb.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) near-dedup: tonight's crawl batch (doc_id %
    10 == 0 here) is checked against the already-ingested corpus WITHOUT
    re-pairing the corpus against itself — the shape that makes
    continuous ingestion affordable: corpus band tables are persisted
    once (they are exactly the `banded` output of minhash_bands), and
    each nightly batch only (a) semi-joins its bands against them
    (dup_vs_corpus) and (b) self-joins within the batch against earlier
    batch ids (dup_in_batch). Work is O(batch x band-collisions), never
    O(corpus^2); the join keys are uniform md5 digests and the batch
    side is small enough to broadcast at real scale."""
    docs = load_table(spark, sf_dir, "documents")
    _, banded = minhash_bands(docs)
    is_batch = F.col("doc_id") % 10 == 0
    corpus_bands = banded.filter(~is_batch)
    batch_bands = banded.filter(is_batch)
    b = batch_bands.alias("b")
    dup_corpus = (
        b.join(
            corpus_bands.alias("c"),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_digest") == F.col("b.band_digest")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("dup_vs_corpus", F.lit(True))
    )
    dup_batch = (
        b.join(
            batch_bands.alias("c"),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_digest") == F.col("b.band_digest"))
            & (F.col("c.doc_id") < F.col("b.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    batch_ids = docs.filter(is_batch).select("doc_id").distinct()
    return (
        batch_ids.join(dup_corpus, "doc_id", "left")
        .join(dup_batch, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_vs_corpus", F.lit(False)).alias("dup_vs_corpus"),
            F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
        )
        .orderBy("doc_id")
    )


_PARA_N = 16  # tokens per "paragraph" chunk


@register(
    "dedup_paragraph_rebuild",
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
win AS (
  SELECT doc_id, p, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, p) AS rn
  FROM paras
),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         CAST(length(string_agg(para, ' ' ORDER BY p)) AS BIGINT)
           AS kept_chars
  FROM win WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id)
SELECT t.doc_id, t.n_paras,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.kept_chars, 0) AS kept_chars
FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def dedup_paragraph_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with document reconstruction (the
    C4/RefinedWeb sub-document pass): chunk each document into
    16-token paragraphs, keep only the GLOBAL first occurrence of each
    paragraph (first = min (doc_id, position)), then reassemble every
    document from its surviving paragraphs in order. Two shuffles at
    any scale: the paragraph-hash group (carries md5 + (doc_id, pos) —
    the paragraph TEXT rides only as far as the rebuild needs it) and
    the per-document regroup. Output pins chunk counts and the exact
    rebuilt length per document, including documents fully consumed by
    earlier duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text would make sequence(0, -1) DESCEND (the curation.py
    # guard): drop such docs identically in both engines
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
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy("doc_id", "p")
    kept = (
        paras.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
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


@register(
    "dedup_shingle_containment",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang,
         generate_subscripts(string_split(text, ' '), 1) AS idx,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
sh AS (
  SELECT DISTINCT a.doc_id, a.lang,
         a.word || ' ' || b.word || ' ' || c.word AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
),
card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
         count(*) AS n_common
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.lang = b.lang
   AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_contained, id_container,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(ca.n_sh AS BIGINT) AS n_sh_contained,
       round(CAST(n_common AS DOUBLE) / CAST(ca.n_sh AS DOUBLE)
             * 10000) / 10000 AS containment
FROM pairs JOIN card ca ON ca.doc_id = id_contained
WHERE 5 * n_common >= 4 * ca.n_sh
ORDER BY id_contained, id_container
""",
)
def dedup_shingle_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: |A∩B| / |A| >= 0.8 over distinct
    3-token shingle sets — Broder's (1997) containment coefficient,
    the relation Jaccard structurally cannot express: a short doc
    pasted inside a much longer one scores near-zero Jaccard (the
    union is dominated by the big doc) but containment ~1. This is
    the subset-duplicate detector a training corpus needs alongside
    `dedup_ngram_jaccard` (symmetric near-dup) and
    `dedup_substring_spans` (exact substring only — containment also
    catches a lightly edited embedding). Shingles, not tokens: on
    this corpus's 31-word vocabulary token-set containment degenerates
    (measured 38k of 500² pairs "contained" at sf0.01); 3-shingles
    restore discrimination (12 true pairs).

    Scale shape: AllPairs-style LOSSLESS prefix filter on the
    contained side — containment >= t means at most
    ``n_a - ceil(t*n_a)`` of A's shingles miss B, so A's
    ``n_a - ceil(t*n_a) + 1`` rarest shingles (global (df, shingle)
    order) must hit B; candidates are the equi-join of those rare
    prefixes against the full shingle index (fan-out bounded by the
    PREFIX shingles' low document frequency, never |docs|²). The
    container side cannot be prefix-pruned without per-pair overlap
    bounds (it rides the lossless ``n_b >= ceil(t*n_a)`` size block
    instead); verification is one array_intersect per surviving
    pair. Exact-int threshold (5*common >= 4*n_a) and a single
    int64/int64 double division keep the oracle hash-exact."""
    t_num, t_den = 4, 5  # t = 0.8 as an exact ratio
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("l")
    )
    shingles = F.when(
        F.size("l") >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 2),
                lambda i: F.array_join(F.slice(F.col("l"), i, 3), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # base feeds three consumers (tok + both verification sides) and
    # tok three more (document frequencies, the prefix build, the
    # candidate index) — without materialization the shingle explode
    # re-runs per consumer (r16 A/B: 8.6 -> 2.5 s warm at sf0.1,
    # identical output). Both tables are corpus-linear;
    # a pin spills rather than OOMs at cluster scale.
    base = pin(docs.select("doc_id", "lang", shingles.alias("sh")))
    tok = pin(
        base.select(
            "doc_id", "lang", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
        )
    )
    dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    pref = (
        tok.join(dfreq, "s")
        .withColumn("rnk", F.row_number().over(w))
        .where(
            F.col("rnk")
            <= F.col("n_sh")
            - F.ceil(F.col("n_sh") * t_num / F.lit(t_den))
            + 1
        )
        .select("doc_id", "lang", "n_sh", "s")
    )
    a, b = pref.alias("a"), tok.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                F.col("b.n_sh")
                >= F.ceil(F.col("a.n_sh") * t_num / F.lit(t_den))
            ),
        )
        .select(
            F.col("a.doc_id").alias("id_contained"),
            F.col("b.doc_id").alias("id_container"),
        )
        .distinct()
    )
    sa = base.select(
        F.col("doc_id").alias("id_contained"), F.col("sh").alias("sha")
    )
    sb = base.select(
        F.col("doc_id").alias("id_container"), F.col("sh").alias("shb")
    )
    n_common = F.size(F.array_intersect("sha", "shb"))
    n_a = F.size("sha")
    # result is true-duplicate-pair-sized: pin it eagerly so the
    # corpus-table pins release before the caller collects (the
    # dbscan/personalized-pagerank pattern)
    return checkpoint(
        cand.join(sa, "id_contained")
        .join(sb, "id_container")
        .where(F.lit(t_den) * n_common >= F.lit(t_num) * n_a)
        .select(
            "id_contained",
            "id_container",
            n_common.cast("long").alias("n_common"),
            n_a.cast("long").alias("n_sh_contained"),
            (
                F.round(
                    n_common.cast("double") / n_a.cast("double") * 10000
                )
                / 10000
            ).alias("containment"),
        )
        .orderBy("id_contained", "id_container")
    )


@register(
    "golden_record_survivorship",
    oracle="""
WITH clusters AS (
  SELECT p_name, count(*) AS n_listings,
         min(p_partkey) AS golden_id,
         max(p_size) AS max_size,
         max(CAST(round(p_retailprice * 100) AS BIGINT)) AS max_price_cents
  FROM part GROUP BY p_name HAVING count(*) >= 2
),
votes AS (
  SELECT p_name, p_brand, count(*) AS c FROM part GROUP BY p_name, p_brand
),
pick AS (
  SELECT p_name, p_brand AS modal_brand
  FROM (SELECT p_name, p_brand, row_number() OVER (PARTITION BY p_name
                ORDER BY c DESC, p_brand) AS rn FROM votes)
  WHERE rn = 1
)
SELECT c.golden_id, c.p_name, CAST(c.n_listings AS BIGINT) AS n_listings,
       k.modal_brand, CAST(c.max_size AS BIGINT) AS max_size,
       c.max_price_cents
FROM clusters c JOIN pick k ON k.p_name = c.p_name
ORDER BY c.golden_id
""",
)
def golden_record_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOLDEN-RECORD assembly (master-data survivorship): collapse
    every duplicate part-name cluster into ONE surviving catalog
    record by per-field rules — earliest key wins identity (min),
    brand by majority VOTE with a deterministic tiebreak, size and
    price by max — the match/merge step an MDM pipeline runs that no
    keep-list dedup here emits: the keep-list picks one ROW, the
    golden record composes best FIELDS that may come from different
    rows of the cluster. The part catalog's 64-name vocabulary makes
    every cluster a real multi-brand vote at every SF (a
    normalized-text version of this query is degenerate: the
    document corpus has zero exact-duplicate clusters below sf0.1).
    Shapes: one name-keyed aggregation for the scalar rules plus one
    (name, brand) count -> cluster-keyed top-1 window for the vote —
    the dedup_cluster_quality_election shape applied to fields."""
    part = load_table(spark, sf_dir, "part")
    clusters = (
        part.groupBy("p_name")
        .agg(
            F.count("*").alias("n_listings"),
            F.min("p_partkey").alias("golden_id"),
            F.max("p_size").alias("max_size"),
            F.max(
                F.round(F.col("p_retailprice") * 100).cast("long")
            ).alias("max_price_cents"),
        )
        .filter(F.col("n_listings") >= 2)
    )
    votes = part.groupBy("p_name", "p_brand").agg(F.count("*").alias("c"))
    w = Window.partitionBy("p_name").orderBy(F.col("c").desc(), "p_brand")
    pick = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_name", F.col("p_brand").alias("modal_brand"))
    )
    return (
        clusters.join(pick, "p_name")
        .select(
            "golden_id",
            "p_name",
            "n_listings",
            "modal_brand",
            F.col("max_size").cast("long").alias("max_size"),
            "max_price_cents",
        )
        .orderBy("golden_id")
    )


@register(
    "lsh_eval_confusion",
    # est CTEs replay the banded MinHash family; truth is UNBLOCKED
    # exact token-set Jaccard >= 0.5 over all pairs
    oracle=f"""
WITH {_MINHASH_SQL_CTES},
pred AS (
  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
),
dtok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(text, '\\s+')) AS word
  FROM documents
),
dtok2 AS (SELECT * FROM dtok WHERE word <> ''),
card AS (SELECT doc_id, count(*) AS n_tok FROM dtok2 GROUP BY doc_id),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dtok2 a JOIN dtok2 b
    ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING 2 * count(*) >= (SELECT n_tok FROM card WHERE doc_id = a.doc_id)
                         + (SELECT n_tok FROM card WHERE doc_id = b.doc_id)
                         - count(*)
),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN p.id_a IS NOT NULL AND t.id_a IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN p.id_a IS NOT NULL AND t.id_a IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN p.id_a IS NULL AND t.id_a IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pred p FULL OUTER JOIN truth t
    ON t.id_a = p.id_a AND t.id_b = p.id_b
)
SELECT tp, fp, fn,
       CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm
FROM conf
""",
)
def lsh_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline OBSERVABILITY for approximate dedup: the confusion
    matrix of the banded MinHash detector (est Jaccard >= 0.5, the
    8x4 production banding) against ground truth — UNBLOCKED exact
    token-set Jaccard >= 0.5 over every pair — with exact-ppm
    precision and recall. This is the measurement a corpus team runs
    before trusting an LSH config at 100 TB (the banding tuner
    estimates recall from a sample; this evaluates the REALIZED
    operating point end-to-end). Truth-side scale shape: the exact
    pair set is generated with the lossless t=0.5 AllPairs prefix
    filter (never the raw |docs|² grid), so even the ground-truth leg
    is candidate-bounded; the confusion join is one full-outer
    equi-join of two pair sets. tp/fp/fn are exact int64 and the
    ratios integer-ppm floors."""
    t_num, t_den = 1, 2  # truth threshold = 0.5 exact
    docs = load_table(spark, sf_dir, "documents")
    pred = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    base = docs.select(
        "doc_id", tokens_distinct(F.col("text")).alias("toks")
    )
    tok = base.select(
        "doc_id", F.size("toks").alias("n_tok"), F.explode("toks").alias("word")
    )
    dfreq = tok.groupBy("word").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "word")
    pref = (
        tok.join(F.broadcast(dfreq), "word")
        .withColumn("rnk", F.row_number().over(w))
        .where(
            F.col("rnk")
            <= F.col("n_tok")
            - F.ceil(F.col("n_tok") * t_num / F.lit(t_den))
            + 1
        )
        .select("doc_id", "word")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    ta = base.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - n_common
    truth = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(F.lit(t_den) * n_common >= union)
        .select("id_a", "id_b")
    )
    p = pred.withColumn("in_p", F.lit(1))
    t = truth.withColumn("in_t", F.lit(1))
    conf = p.join(t, ["id_a", "id_b"], "full_outer").agg(
        F.sum(
            F.when(
                F.col("in_p").isNotNull() & F.col("in_t").isNotNull(), 1
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                F.col("in_p").isNotNull() & F.col("in_t").isNull(), 1
            ).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(
                F.col("in_p").isNull() & F.col("in_t").isNotNull(), 1
            ).otherwise(0)
        ).alias("fn"),
    )
    return conf.select(
        "tp",
        "fp",
        "fn",
        F.expr("tp * 1000000 div (tp + fp)").alias("precision_ppm"),
        F.expr("tp * 1000000 div (tp + fn)").alias("recall_ppm"),
    )


@register(
    "lsh_calibration_curve",
    oracle=f"""
WITH {_MINHASH_SQL_CTES},
dtok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(text, '\\s+')) AS word
  FROM documents
),
dtok2 AS (SELECT * FROM dtok WHERE word <> ''),
card AS (SELECT doc_id, count(*) AS n_tok FROM dtok2 GROUP BY doc_id),
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM dtok2 a JOIN dtok2 b
    ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT e.id_a, e.id_b,
         CAST(round(e.est_jaccard * 8) AS BIGINT) AS est_bucket,
         x.n_common * 1000000
           // (ca.n_tok + cb.n_tok - x.n_common) AS exact_ppm
  FROM est e
  JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
  JOIN card ca ON ca.doc_id = e.id_a
  JOIN card cb ON cb.doc_id = e.id_b
)
SELECT est_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(exact_ppm) AS BIGINT) AS sum_exact_ppm,
       CAST(SUM(exact_ppm) // count(*) AS BIGINT) AS mean_exact_ppm
FROM pairs GROUP BY est_bucket ORDER BY est_bucket
""",
)
def lsh_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) curve for the MinHash estimator: for
    every LSH candidate pair, bucket the 32-position signature
    estimate into eighths and publish the mean EXACT Jaccard per
    bucket — the diagram that says whether est 0.75 really means 0.75
    (lsh_eval_confusion scores one threshold; this audits the whole
    estimator range, which is what you need before moving the
    threshold). Candidates already carry their banded est; the exact
    side joins token-set intersections for CANDIDATE pairs only
    (never all pairs). Float discipline: per-pair exact Jaccard is
    floored to integer ppm BEFORE summation — an N-ary double sum of
    raw ratios would be accumulation-order-dependent; summing int64
    ppm floors is exact, and the bucket mean is one integer
    division. The candidate join is the only corpus-sized work."""
    pred = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokens_distinct(F.col("text")).alias("toks")
    )
    ta = base.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb")).cast("long")
    union = (F.size("ta") + F.size("tb")).cast("long") - n_common
    pairs = (
        pred.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            F.round(F.col("est_jaccard") * 8)
            .cast("long")
            .alias("est_bucket"),
            F.expr(
                "CAST(size(array_intersect(ta, tb)) AS BIGINT) * 1000000"
                " div (CAST(size(ta) + size(tb) AS BIGINT)"
                "      - CAST(size(array_intersect(ta, tb)) AS BIGINT))"
            ).alias("exact_ppm"),
        )
    )
    return (
        pairs.groupBy("est_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("exact_ppm").alias("sum_exact_ppm"),
        )
        .select(
            "est_bucket",
            "n_pairs",
            "sum_exact_ppm",
            F.expr("sum_exact_ppm div n_pairs").alias("mean_exact_ppm"),
        )
        .orderBy("est_bucket")
    )


@register(
    "cohens_kappa_dedup_methods",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ptoks,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS stoks
  FROM documents
),
paras AS (
  SELECT doc_id,
         md5(list_aggregate(
           ptoks[CAST(t.p AS INT) * {_PARA_N} + 1
                 : CAST(t.p AS INT) * {_PARA_N} + {_PARA_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(ceil(len(ptoks) / {_PARA_N}.0)
                            AS BIGINT))) AS t(p)
),
shing AS (
  SELECT doc_id,
         md5(list_aggregate(
           stoks[CAST(t.p AS INT) + 1 : CAST(t.p AS INT) + {_PARA_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(greatest(len(stoks) - {_PARA_N} + 1, 1)
                            AS BIGINT))) AS t(p)
),
pa AS (
  SELECT DISTINCT p.doc_id FROM paras p
  JOIN (SELECT fp FROM paras GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = p.fp
),
pb AS (
  SELECT DISTINCT s.doc_id FROM shing s
  JOIN (SELECT fp FROM shing GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = s.fp
),
flags AS (
  SELECT b.doc_id,
         CASE WHEN pa.doc_id IS NULL THEN 0 ELSE 1 END AS a,
         CASE WHEN pb.doc_id IS NULL THEN 0 ELSE 1 END AS b
  FROM base b
  LEFT JOIN pa ON pa.doc_id = b.doc_id
  LEFT JOIN pb ON pb.doc_id = b.doc_id
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM flags
)
SELECT n AS n_docs, n11, n10, n01, n00,
       round(CAST(n * (n11 + n00)
                  - (n11 + n10) * (n11 + n01)
                  - (n01 + n00) * (n10 + n00) AS DOUBLE)
             / CAST(n * n
                    - (n11 + n10) * (n11 + n01)
                    - (n01 + n00) * (n10 + n00) AS DOUBLE)
             * 1000000) / 1000000 AS kappa
FROM cells
""",
)
def cohens_kappa_dedup_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two near-dup detection methods — does
    ALIGNED 16-token chunking (dedup_paragraph_rebuild's unit) agree
    with SLIDING 16-token shingling (the containment family's unit)
    on WHICH documents carry cross-document duplication, beyond
    chance? The two flags CAN disagree both ways (alignment misses
    unaligned overlap; chunking's short tail chunks match where no
    full 16-gram does — the direction this corpus exhibits), and
    kappa = (p_o − p_e)/(1 − p_e)
    collapses to ONE fixed IEEE division of two exact int64
    polynomials in the 2x2 cells — the audit a curation pipeline
    runs before swapping its dedup stage for a cheaper one. Scale:
    both flag passes shuffle on fingerprint keys (cardinality ≈
    corpus shingle count, no skew), then one doc-keyed join and a
    global cell reduce; N² int64 overflows only past ~3e9 docs —
    switch the two polynomials to decimal(38) there, same tree."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("ptoks"),
        F.filter(
            F.split("text", r"\s+"), lambda t: t != F.lit("")
        ).alias("stoks"),
    )
    paras = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ptoks") / F.lit(float(_PARA_N)))
                    .cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(
                        " ", F.slice("ptoks", p * _PARA_N + 1, _PARA_N)
                    )
                ),
            )
        ).alias("fp"),
    )
    shing = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size("stoks") - (_PARA_N - 1), F.lit(1)
                    ).cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(" ", F.slice("stoks", p + 1, _PARA_N))
                ),
            )
        ).alias("fp"),
    )

    def flag(fps: DataFrame, name: str) -> DataFrame:
        dup_fp = (
            fps.groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("cd"))
            .filter(F.col("cd") > 1)
            .select("fp")
        )
        return (
            fps.join(dup_fp, "fp")
            .select("doc_id")
            .distinct()
            .withColumn(name, F.lit(1))
        )
    fa = flag(paras, "a").withColumnRenamed("doc_id", "da")
    fb = flag(shing, "b").withColumnRenamed("doc_id", "db")
    flags = (
        base.select("doc_id")
        .join(fa, base.doc_id == fa.da, "left")
        .join(fb, base.doc_id == fb.db, "left")
        .select(
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
        )
    )
    cells = flags.agg(
        F.count("*").alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    r1c1 = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
    r0c0 = (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    num = (F.col("n") * (F.col("n11") + F.col("n00")) - r1c1 - r0c0).cast(
        "double"
    )
    den = (F.col("n") * F.col("n") - r1c1 - r0c0).cast("double")
    return cells.select(
        F.col("n").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        (F.round(num / den * 1000000) / 1000000).alias("kappa"),
    )


@register(
    "blocking_quality_sorted_neighborhood",
    oracle="""
WITH d AS (
  SELECT doc_id, md5(substr(text, 1, 100)) AS fp,
         lower(substr(text, 1, 7)) AS pre
  FROM documents
),
keyed AS (
  SELECT doc_id, fp,
         (CASE WHEN length(pre) >= 1
               THEN least(ord(substr(pre, 1, 1)), 255) ELSE 0 END)
             * 281474976710656
         + (CASE WHEN length(pre) >= 2
                 THEN least(ord(substr(pre, 2, 1)), 255) ELSE 0 END)
             * 1099511627776
         + (CASE WHEN length(pre) >= 3
                 THEN least(ord(substr(pre, 3, 1)), 255) ELSE 0 END)
             * 4294967296
         + (CASE WHEN length(pre) >= 4
                 THEN least(ord(substr(pre, 4, 1)), 255) ELSE 0 END)
             * 16777216
         + (CASE WHEN length(pre) >= 5
                 THEN least(ord(substr(pre, 5, 1)), 255) ELSE 0 END)
             * 65536
         + (CASE WHEN length(pre) >= 6
                 THEN least(ord(substr(pre, 6, 1)), 255) ELSE 0 END)
             * 256
         + (CASE WHEN length(pre) >= 7
                 THEN least(ord(substr(pre, 7, 1)), 255) ELSE 0 END)
             AS k
  FROM d
),
ranked AS (
  SELECT doc_id, fp,
         CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM keyed
),
cand AS (
  SELECT a.fp AS fp_a, b.fp AS fp_b
  FROM ranked a JOIN ranked b
    ON b.rn > a.rn AND b.rn <= a.rn + 9
),
truth AS (
  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT count(*) AS c FROM d GROUP BY fp)
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cand,
         CAST(SUM(CASE WHEN fp_a = fp_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found
  FROM cand
)
SELECT r.n AS n_docs,
       s.n_cand AS n_candidate_pairs,
       t.true_pairs AS n_true_pairs,
       s.n_found AS n_true_found,
       CAST(1000000 - s.n_cand * 1000000
            // (CAST(r.n AS HUGEINT) * (r.n - 1) // 2) AS BIGINT)
           AS reduction_ratio_ppm,
       CASE WHEN t.true_pairs > 0 THEN
         s.n_found * 1000000 // t.true_pairs END
           AS pair_completeness_ppm
FROM (SELECT max(n) AS n FROM ranked) r
CROSS JOIN sums s CROSS JOIN truth t
""",
)
def blocking_quality_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOCKING-QUALITY EVALUATION of sorted-neighborhood candidate
    generation against exact-duplicate ground truth — the two numbers
    (Christen's standard metrics) every entity-resolution/dedup
    pipeline must report before trusting a blocker: REDUCTION RATIO
    (what fraction of the quadratic pair space the blocker pruned)
    and PAIR COMPLETENESS (what fraction of TRUE duplicate pairs
    survived into the candidate set — recall of the blocking stage).
    Ground truth is shared-100-char-prefix clusters (the corpus's
    boilerplate-opening near-dups; it contains no byte-identical
    docs, so prefix clusters are the honest linkable truth here).
    Sorted neighborhood runs over a 7-byte packed prefix key (each
    char capped at 255, base-256 packed — integer-ordered EXACTLY
    like the lowercased 7-char prefix, computable identically in both
    engines; ties by doc_id), window w = 10; truth is identical-md5
    clusters (Σ c(c−1)/2 pairs). The candidate count comes from the
    rank-offset equi-join (offsets 1..9) the real blocker would run —
    no formula shortcuts, so boundary effects are counted honestly.
    Quadratic totals n(n−1)/2 live in decimal(38,0) ⟷ HUGEINT. Scale:
    ranking is grank's binned 2-pass; the offset join fans out 9x on
    the rank equi-key; truth is one md5 group-by."""
    from spark_lever_spark.operators.grank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    pre = F.lower(F.substring(F.col("text"), 1, 7))
    k = sum(
        (
            F.when(
                F.length(pre) >= i,
                F.least(F.ascii(F.substring(pre, i, 1)), F.lit(255)),
            )
            .otherwise(0)
            .cast("long")
            * (256 ** (7 - i))
            for i in range(1, 8)
        ),
        F.lit(0).cast("long"),
    )
    d = docs.select(
        "doc_id",
        F.md5(F.substring(F.col("text"), 1, 100)).alias("fp"),
        k.alias("k"),
    )
    ranked = with_global_rank(d, F.col("k"), ["doc_id"])
    a = ranked.select(
        F.col("fp").alias("fp_a"), F.col("_rk").alias("ra")
    )
    b = ranked.select(
        F.col("fp").alias("fp_b"), F.col("_rk").alias("rb")
    )
    offs = F.explode(F.array(*[F.lit(i) for i in range(1, 10)])).alias(
        "off"
    )
    cand = (
        a.select("fp_a", "ra", offs)
        .join(b, F.col("rb") == F.col("ra") + F.col("off"))
    )
    sums = cand.agg(
        F.count("*").alias("n_cand"),
        F.sum(
            F.when(F.col("fp_a") == F.col("fp_b"), 1).otherwise(0)
        ).alias("n_found"),
    )
    truth = (
        d.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(
                F.expr("c * (c - 1) div 2")
            ).alias("true_pairs")
        )
    )
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        n.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(truth))
        .select(
            "n_docs",
            F.col("n_cand").alias("n_candidate_pairs"),
            F.col("true_pairs").alias("n_true_pairs"),
            F.col("n_found").alias("n_true_found"),
            F.expr(
                "CAST(1000000 - n_cand * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)"
                " div 2) AS BIGINT)"
            ).alias("reduction_ratio_ppm"),
            F.when(
                F.col("true_pairs") > 0,
                F.expr("n_found * 1000000 div true_pairs"),
            ).alias("pair_completeness_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup audits: Lincoln-Petersen estimate, shingle overlap, threshold sweep
# ---------------------------------------------------------------------------


_LP_N = 16  # tokens per chunk/shingle — cohens_kappa_dedup_methods' unit


@register(
    "lincoln_petersen_dedup_estimate",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ptoks,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS stoks
  FROM documents
),
paras AS (
  SELECT doc_id,
         md5(list_aggregate(
           ptoks[CAST(t.p AS INT) * {_LP_N} + 1
                 : CAST(t.p AS INT) * {_LP_N} + {_LP_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(ceil(len(ptoks) / {_LP_N}.0)
                            AS BIGINT))) AS t(p)
),
shing AS (
  SELECT doc_id,
         md5(list_aggregate(
           stoks[CAST(t.p AS INT) + 1 : CAST(t.p AS INT) + {_LP_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(greatest(len(stoks) - {_LP_N} + 1, 1)
                            AS BIGINT))) AS t(p)
),
pa AS (
  SELECT DISTINCT p.doc_id FROM paras p
  JOIN (SELECT fp FROM paras GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = p.fp
),
pb AS (
  SELECT DISTINCT s.doc_id FROM shing s
  JOIN (SELECT fp FROM shing GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = s.fp
),
flags AS (
  SELECT b.doc_id,
         CASE WHEN pa.doc_id IS NULL THEN 0 ELSE 1 END AS a,
         CASE WHEN pb.doc_id IS NULL THEN 0 ELSE 1 END AS b
  FROM base b
  LEFT JOIN pa ON pa.doc_id = b.doc_id
  LEFT JOIN pb ON pb.doc_id = b.doc_id
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(a) AS BIGINT) AS n1,
         CAST(SUM(b) AS BIGINT) AS n2,
         CAST(SUM(a * b) AS BIGINT) AS m_both,
         CAST(SUM(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS union_flagged
  FROM flags
)
SELECT n_docs, n1, n2, m_both, union_flagged,
       CAST((n1 + 1) * (n2 + 1) // (m_both + 1) - 1 AS BIGINT)
           AS chapman_est,
       CAST(GREATEST((n1 + 1) * (n2 + 1) // (m_both + 1) - 1
                     - union_flagged, 0) AS BIGINT) AS est_missed
FROM cells
""",
)
def lincoln_petersen_dedup_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CAPTURE-RECAPTURE estimate of TOTAL near-duplicate documents —
    Lincoln-Petersen with the Chapman bias correction, treating two
    independent detectors as the two capture occasions (aligned
    16-token chunk fingerprints = capture 1, sliding 16-token
    shingles = capture 2 — cohens_kappa_dedup_methods' exact flag
    definitions, reused verbatim): N̂ = (n₁+1)(n₂+1)/(m+1) − 1. Where
    kappa asks 'do the methods agree', this asks the question a
    curation budget actually needs — 'how many duplicates does even
    the UNION miss' (est_missed = N̂ − |union|, clamped at 0). The
    Chapman +1s keep the estimator finite at m = 0 and the whole
    readout is exact integer arithmetic — one floor-division.
    Scale: both flag passes shuffle on fingerprint keys (the kappa
    plan); one doc-keyed join; 1-row output."""
    # spread the narrow scan before the two md5-explode passes — the
    # corpus-CPU stage otherwise runs one task per row group
    # (optimization r18, catalog.spread_scan)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("ptoks"),
        F.filter(
            F.split("text", r"\s+"), lambda t: t != F.lit("")
        ).alias("stoks"),
    )
    paras = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ptoks") / F.lit(float(_LP_N)))
                    .cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(
                        " ", F.slice("ptoks", p * _LP_N + 1, _LP_N)
                    )
                ),
            )
        ).alias("fp"),
    )
    shing = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size("stoks") - (_LP_N - 1), F.lit(1)
                    ).cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(" ", F.slice("stoks", p + 1, _LP_N))
                ),
            )
        ).alias("fp"),
    )

    # Each fingerprint table feeds flagged() twice (the dup-fp
    # aggregate AND the join-back side) — without a persist the
    # corpus-wide md5 shingle explode runs twice per detector
    # (optimization r18, guide §5 recompute elimination). Fingerprint
    # grain, spills to disk at scale.
    paras = pin(paras)
    shing = pin(shing)

    def flagged(fps: DataFrame) -> DataFrame:
        dup_fp = (
            fps.groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("cd"))
            .filter(F.col("cd") > 1)
            .select("fp")
        )
        return fps.join(dup_fp, "fp").select("doc_id").distinct()

    pa = flagged(paras).select(F.col("doc_id").alias("pa_id"))
    pb = flagged(shing).select(F.col("doc_id").alias("pb_id"))
    flags = (
        base.select("doc_id")
        .join(pa, base.doc_id == F.col("pa_id"), "left")
        .join(pb, base.doc_id == F.col("pb_id"), "left")
        .select(
            F.when(F.col("pa_id").isNull(), 0).otherwise(1).alias("a"),
            F.when(F.col("pb_id").isNull(), 0).otherwise(1).alias("b"),
        )
    )
    cells = flags.agg(
        F.count("*").alias("n_docs"),
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum(F.col("a") * F.col("b")).alias("m_both"),
        F.sum(
            F.when((F.col("a") == 1) | (F.col("b") == 1), 1).otherwise(0)
        ).alias("union_flagged"),
    )
    out = cells.select(
        "n_docs",
        "n1",
        "n2",
        "m_both",
        "union_flagged",
        F.expr(
            "CAST((n1 + 1) * (n2 + 1) div (m_both + 1) - 1 AS BIGINT)"
        ).alias("chapman_est"),
        F.expr(
            "CAST(GREATEST((n1 + 1) * (n2 + 1) div (m_both + 1) - 1"
            " - union_flagged, 0) AS BIGINT)"
        ).alias("est_missed"),
    )
    return checkpoint(out)  # 1 row: pin eagerly


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
    docs = load_table(spark, sf_dir, "documents")
    b, _r = tune_lsh_banding(docs)
    pairs = lsh_candidate_pairs(docs, bands=b)
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
    # eager pin (5 rows)
    return checkpoint(
        th.join(pairs_ct, "t_milli", "left")
        .join(docs_ct, "t_milli", "left")
        .selectExpr(
            "t_milli AS threshold_milli",
            "COALESCE(n_pairs, 0) AS n_pairs",
            "COALESCE(n_docs, 0) AS n_docs",
        )
        .orderBy("threshold_milli")
    )


# ---------------------------------------------------------------------------
# Hash-family health: simhash bit balance
# ---------------------------------------------------------------------------


@register(
    "simhash_bit_balance_audit",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
),
th AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
),
bits AS MATERIALIZED (
  SELECT doc_id, p.j,
         SUM(CASE WHEN ((h >> p.j) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(60)) AS j) p
  GROUP BY doc_id, p.j
),
perbit AS (
  SELECT j, CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ones,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM bits GROUP BY j
)
SELECT CAST(j AS INT) AS bit_idx, n_ones, n_docs,
       CAST(abs(2 * n_ones - n_docs) * 1000000 // n_docs AS BIGINT)
           AS imbalance_ppm
FROM perbit ORDER BY bit_idx
""",
)
def simhash_bit_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-FAMILY HEALTH AUDIT of the 60-bit simhash the dedup family
    blocks on (dedup_simhash, llm/dedup.py): per bit position, the
    fraction of documents whose simhash sets that bit. A healthy
    md5-derived family sits near 50 % per bit; a skewed bit inflates
    chunk-block collision rates and silently degrades near-dup recall
    precision — exactly the audit a 100 TB dedup pipeline runs before
    trusting its banding math. Output: per-bit ones count and the
    absolute imbalance |2·ones − n|/n in ppm (integer-exact, floor
    division on a non-negative numerator). Scale shape: one token scan,
    one (doc, bit) aggregation, one 60-group rollup — all map-side
    combinable equi-aggregations, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_distinct(F.col("text"))).alias("word")
    ).withColumn("h", token_hash(F.col("word")))
    bit = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j"),
        "h",
    ).withColumn(
        "contrib",
        F.when(F.expr("(shiftright(h, j) & 1)") == 1, 1).otherwise(-1),
    )
    sims = (
        bit.groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("s"))
        .withColumn("b", (F.col("s") > 0).cast("long"))
    )
    return (
        sims.groupBy("j")
        .agg(
            F.sum("b").alias("n_ones"),
            F.count("*").alias("n_docs"),
        )
        .select(
            F.col("j").cast("int").alias("bit_idx"),
            "n_ones",
            "n_docs",
            F.expr(
                "CAST(abs(2 * n_ones - n_docs) * 1000000 div n_docs"
                " AS BIGINT)"
            ).alias("imbalance_ppm"),
        )
        .orderBy("bit_idx")
    )


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

    docs = load_table(spark, sf_dir, "documents")
    # Bare distinct band pairs — signatures deliberately NOT attached
    # yet (the whole point of the r19 reorder); sig is pinned exactly
    # as in lsh_candidate_pairs.
    sig, banded = minhash_bands(docs)
    sig = pin(sig)
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
    base = pin(
        docs.select(
            "doc_id",
            "source",
            "lang",
            tokens_distinct(F.col("text")).alias("toks"),
        )
    )
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
    # eager pin (<= source-domain² rows)
    return checkpoint(_cross_source_duplication_matrix_plan(spark, sf_dir))


def _cross_source_duplication_matrix_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lazy pre-checkpoint matrix pipeline — extracted so the
    plan-contract suite can pin the join shapes (kmeans-builder
    precedent, r19)."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "source")
    pairs = (
        lsh_candidate_pairs(docs)
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
    scale: ground truth is quadratic. Fixed-SIZE, not fixed-rate: a
    rate sample's all-pairs set grows
    quadratically with the corpus — at 100x data the audit would do
    10,000x the truth-side work — while hash-ordered top-K keeps the
    audit O(K^2) at any scale (the K-row selection is a TakeOrdered,
    never a global sort materialization)."""
    # eager pin (1 row)
    return checkpoint(_er_lsh_blocking_audit_plan(spark, sf_dir))


def _er_lsh_blocking_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy pre-checkpoint audit pipeline — extracted so the
    plan-contract suite can pin the join shapes (the registered query
    returns an eagerly pinned 1-row result with truncated lineage —
    the kmeans-builder precedent, r19)."""
    docs = load_table(spark, sf_dir, "documents")
    # K rows feed five consumers (both pair sides, the semi-join
    # filters, the count) — eager-materialize so the corpus-wide
    # TakeOrdered runs once, not per consumer.
    samp = checkpoint(
        docs.select(
            "doc_id",
            "source",
            "lang",
            tokens_distinct(F.col("text")).alias("toks"),
        )
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(40)
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
        lsh_candidate_pairs(docs)
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
