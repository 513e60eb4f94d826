"""Round-16 additions (10 queries, paced to the driver's stamp budget —
VERDICT r15 item 2).

The wave covers capability classes a 100 TB curation platform runs that
the registry did not yet have: hash-family health auditing (simhash bit
balance), submodular greedy corpus selection (the facility-location-style
set cover behind data-subset selection), color-space quantization and
zero-crossing audio features on the real multimodal decoders,
corpus-linguistics term dispersion (Gries' DP), causal stratified ATE,
empirical-Bayes shrinkage, Good-Turing unseen-mass estimation, exact
Kendall concordance, and a configuration-model graph null check.

All arithmetic follows the house cross-engine doctrine: integer counts,
ppm/milli results via {I}/{D} sign-split or non-negative floor division
(operators/round14c._ss_div), no transcendental in any hash-gated
output. Reference parity anchors: the RDD/DataFrame aggregate surfaces
these re-express live in the reference's core RDD ops
(core/src/main/scala/org/apache/spark/rdd/RDD.scala, PairRDDFunctions
combineByKey lineage); everything beyond that is the LLM-pipeline
superset this repo adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.llm.dedup import token_hash, tokens_distinct
from spark_lever_spark.operators.round14c import (
    _WC_CTE,
    _duck,
    _spark,
    _ss_div,
    _word_counts,
)
from spark_lever_spark.operators.round15 import _SH3_CTE, _shingles3
from spark_lever_spark.registry import register

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
    category="llm_dedup",
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
    ).withColumn("h", token_hash(F.col("word"), bits=60))
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
# Submodular greedy corpus selection (set cover over 3-shingles)
# ---------------------------------------------------------------------------

_GREEDY_K = 6


def _greedy_cover_oracle(k: int = _GREEDY_K) -> str:
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
    for r in range(2, k + 1):
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
        for r in range(1, k + 1)
    )
    return ",\n".join(ctes) + f"\n{finals}\nORDER BY selection_rank"


@register(
    "greedy_coverage_doc_selection",
    oracle=_greedy_cover_oracle(),
    category="llm_curation",
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
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # Bound the cached partition count to the session's real
    # parallelism: a 200-partition vanilla-session distinct otherwise
    # caches 200 slivers and every one of the K rounds' stages pays a
    # 200-task scheduling storm (measured 65 s -> ~15 s at sf0.01).
    # Classic-mode probe with a Connect-safe fallback (the minhash_bands
    # pattern, llm/dedup.py).
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    doc_sh = (
        docs.select(
            "doc_id", F.explode(_shingles3(F.col("text"))).alias("shingle")
        )
        .distinct()
        .coalesce(par)
        .persist(StorageLevel.MEMORY_AND_DISK)
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
    doc_sh.unpersist()
    return spark.createDataFrame(
        rows,
        "selection_rank int, doc_id long, gain long, covered_cum long",
    ).orderBy("selection_rank")


# ---------------------------------------------------------------------------
# Multimodal: color quantization + zero-crossing audio features
# ---------------------------------------------------------------------------


@register(
    "multimodal_ppm_color_quantize",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 150),
dims AS (
  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 8 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         (((doc_id * 37 + t.i * 11) % 256) // 64) * 16
         + (((doc_id * 37 + t.i * 11 + 71) % 256) // 64) * 4
         + ((doc_id * 37 + t.i * 11 + 142) % 256) // 64 AS bin
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
),
bc AS (
  SELECT doc_id, w, h, bin, CAST(count(*) AS BIGINT) AS c
  FROM px GROUP BY doc_id, w, h, bin
),
ranked AS (
  SELECT doc_id, w, h, bin, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bin)
             AS rn,
         count(*) OVER (PARTITION BY doc_id) AS nb
  FROM bc
)
SELECT doc_id, CAST(w * h AS INT) AS n_pixels,
       CAST(bin AS INT) AS dominant_bin, c AS dominant_count,
       CAST(nb AS INT) AS n_bins
FROM ranked WHERE rn = 1 ORDER BY doc_id
""",
    category="llm_multimodal",
)
def multimodal_ppm_color_quantize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLOR-SPACE QUANTIZATION over real decoded P6 images: every
    pixel maps to a 4x4x4 RGB cube bin (r//64, g//64, b//64 -> 64
    bins), per image the DOMINANT bin (max count, tie -> lowest bin
    id) and the occupied-bin count — the palette-histogram feature a
    multimodal curation pipeline uses for near-duplicate screening and
    low-information-image filtering. The decode is the genuine P6
    parser (magic check, header parse, numpy interleaved-RGB read) in
    the Arrow-batched mapInPandas codec slot (see
    multimodal_ppm_rgb_decode, llm/multimodal.py); the oracle replays
    bins analytically from the deterministic raster formula. Scale:
    payloads never leave the executor; output is 5 small columns per
    image."""
    import pandas as pd

    from spark_lever_spark.llm.multimodal import encode_ppm

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def encode_run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_ppm(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def quantize_run(batches):
        import numpy as np

        for pdf in batches:
            ids, npx, dbin, dcnt, nbins = [], [], [], [], []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P6\n"):
                    raise ValueError("not a binary PPM (P6) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims_line = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims_line[0]), int(dims_line[1])
                raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
                if raster.size != w * h * 3:
                    raise ValueError("raster size mismatch")
                rgb = raster.reshape(-1, 3).astype(np.int64)
                bins = (
                    (rgb[:, 0] // 64) * 16
                    + (rgb[:, 1] // 64) * 4
                    + rgb[:, 2] // 64
                )
                counts = np.bincount(bins, minlength=64)
                dom = int(np.argmax(counts))  # first max = lowest bin id
                ids.append(int(did))
                npx.append(w * h)
                dbin.append(dom)
                dcnt.append(int(counts[dom]))
                nbins.append(int(np.count_nonzero(counts)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_pixels": pd.Series(npx, dtype="int32"),
                    "dominant_bin": pd.Series(dbin, dtype="int32"),
                    "dominant_count": pd.Series(dcnt, dtype="int64"),
                    "n_bins": pd.Series(nbins, dtype="int32"),
                }
            )

    return with_media.mapInPandas(
        quantize_run,
        "doc_id long, n_pixels int, dominant_bin int, dominant_count long,"
        " n_bins int",
    ).orderBy("doc_id")


@register(
    "multimodal_wav_zero_crossings",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 200 + 50 AS ns FROM d),
s AS (
  SELECT doc_id, ns, t.i AS i,
         (doc_id * 131 + t.i * 17) % 2048 - 1024 AS v
  FROM n, LATERAL unnest(range(ns)) AS t(i)
),
lagd AS (
  SELECT doc_id, ns, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id, CAST(ns AS INT) AS n_samples,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND v * pv < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings,
       CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
       CAST(MIN(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN i END)
            AS BIGINT) AS first_crossing_idx
FROM lagd GROUP BY doc_id, ns ORDER BY doc_id
""",
    category="llm_multimodal",
)
def multimodal_wav_zero_crossings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZERO-CROSSING-RATE features over real decoded PCM: per clip the
    count of strict sign flips (s_i * s_{i-1} < 0), exact-zero sample
    count, and the first crossing index — the cheapest
    voiced/unvoiced + spectral-centroid proxy an audio curation
    pipeline computes before any FFT. Decode is the genuine RIFF/WAVE
    parser (magic + fmt validation, numpy int16 read — the
    decode_wav_batch contract, llm/multimodal.py); the feature math
    runs vectorized in the same Arrow batch. The oracle replays the
    deterministic sample formula with a lag window. Distinct from
    audio_silence_runs (amplitude-threshold VAD runs) and
    multimodal_wav_diff_energy (first-difference energy)."""
    import pandas as pd

    from spark_lever_spark.llm.multimodal import encode_wav

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def zcr_run(batches):
        import struct

        import numpy as np

        for pdf in batches:
            ids, nsamp, ncross, nzero, firsts = [], [], [], [], []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE stream")
                (data_len,) = struct.unpack("<I", b[40:44])
                s = np.frombuffer(
                    b, dtype="<i2", offset=44, count=data_len // 2
                ).astype(np.int64)
                prod = s[1:] * s[:-1]
                cross = prod < 0
                ids.append(int(did))
                nsamp.append(int(s.size))
                ncross.append(int(cross.sum()))
                nzero.append(int((s == 0).sum()))
                firsts.append(
                    int(np.argmax(cross)) + 1 if cross.any() else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(nsamp, dtype="int32"),
                    "n_crossings": pd.Series(ncross, dtype="int64"),
                    "n_zeros": pd.Series(nzero, dtype="int64"),
                    "first_crossing_idx": pd.Series(
                        firsts, dtype="Int64"
                    ),
                }
            )

    return with_media.mapInPandas(
        zcr_run,
        "doc_id long, n_samples int, n_crossings long, n_zeros long,"
        " first_crossing_idx long",
    ).orderBy("doc_id")


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
       CAST(SUM(""" + _duck(_DP_NUM) + """) * 1000000
            // (2 * CAST(c_t AS HUGEINT) * t_all) AS BIGINT) AS dp_ppm
FROM grid GROUP BY w, c_t, t_all
ORDER BY total_count DESC, term
""",
    category="llm_textstats",
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
        .agg(F.expr(f"SUM({_spark(_DP_NUM)})").alias("num"))
        .selectExpr(
            "w AS term",
            "c_t AS total_count",
            _spark(
                "CAST(num * 1000000 {D} (2 * CAST(c_t AS {I}) * t_all)"
                " AS BIGINT)"
            )
            + " AS dp_ppm",
        )
        .orderBy(F.desc("total_count"), F.asc("term"))
    )


# ---------------------------------------------------------------------------
# Causal: stratified (cell-propensity IPW-equivalent) ATE
# ---------------------------------------------------------------------------

_ATE_DIV = _ss_div("SUM(CAST(n AS {I}) * (r1 - r0))", "SUM(n)", 1)


@register(
    "stratified_ate_priority_returns",
    oracle="""
WITH u AS (
  SELECT c.c_nationkey AS nk, c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS t,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
cell AS (
  SELECT nk, seg,
         CAST(SUM(t) AS BIGINT) AS n1,
         CAST(SUM(t * y) AS BIGINT) AS x1,
         CAST(SUM(1 - t) AS BIGINT) AS n0,
         CAST(SUM((1 - t) * y) AS BIGINT) AS x0
  FROM u GROUP BY 1, 2
),
used AS (
  SELECT n1 + n0 AS n,
         CAST(x1 * 1000000 // n1 AS BIGINT) AS r1,
         CAST(x0 * 1000000 // n0 AS BIGINT) AS r0
  FROM cell WHERE n1 > 0 AND n0 > 0
),
naive AS (
  SELECT CAST(CAST(SUM(t * y) AS BIGINT) * 1000000
              // SUM(t) AS BIGINT)
         - CAST(CAST(SUM((1 - t) * y) AS BIGINT) * 1000000
                // SUM(1 - t) AS BIGINT) AS naive_diff_ppm
  FROM u
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_units,
       (SELECT naive_diff_ppm FROM naive) AS naive_diff_ppm,
       """ + _duck(_ATE_DIV) + """ AS ate_ppm
FROM used
""",
    category="relational",
)
def stratified_ate_priority_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED AVERAGE TREATMENT EFFECT (exact-matching /
    cell-propensity IPW estimator): effect of high order priority
    (1-URGENT/2-HIGH) on line-item return rate, adjusted for customer
    (nation × market segment) strata — within each cell the treated
    and control return rates difference, weighted by cell size over
    cells containing BOTH groups (the common-support restriction).
    The textbook confounding-adjustment identity: with cell-constant
    propensities, stratification == inverse-propensity weighting.
    Integer-exact ppm rates per cell; the signed weighted mean uses
    the sign-split {I}/{D} division. Scale shape: one fact join chain
    (customer dim broadcastable), one cell aggregation (125 cells at
    any SF), one final rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    u = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("t"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
    )
    cell = u.groupBy("nk", "seg").agg(
        F.sum("t").alias("n1"),
        F.sum(F.col("t") * F.col("y")).alias("x1"),
        F.sum(F.lit(1) - F.col("t")).alias("n0"),
        F.sum((F.lit(1) - F.col("t")) * F.col("y")).alias("x0"),
    )
    used = cell.filter((F.col("n1") > 0) & (F.col("n0") > 0)).selectExpr(
        "n1 + n0 AS n",
        "CAST(x1 * 1000000 div n1 AS BIGINT) AS r1",
        "CAST(x0 * 1000000 div n0 AS BIGINT) AS r0",
    )
    naive = u.selectExpr(
        "CAST(SUM(t * y) * 1000000 div SUM(t) AS BIGINT)"
        " - CAST(SUM((1 - t) * y) * 1000000 div SUM(1 - t) AS BIGINT)"
        " AS naive_diff_ppm"
    )
    return (
        used.selectExpr(
            "CAST(count(*) AS BIGINT) AS n_cells",
            "CAST(SUM(n) AS BIGINT) AS n_units",
            _spark(_ATE_DIV) + " AS ate_ppm",
        )
        .crossJoin(F.broadcast(naive))
        .select("n_cells", "n_units", "naive_diff_ppm", "ate_ppm")
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-brand return rates
# ---------------------------------------------------------------------------

_EB_M = 200  # prior pseudo-count (beta-binomial prior strength)


@register(
    "eb_shrunk_brand_return_rates",
    oracle=f"""
WITH b AS (
  SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx
      FROM b)
SELECT brand, n AS n_items,
       CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
       CAST((CAST(x AS HUGEINT) * nn + {_EB_M} * CAST(xx AS HUGEINT))
            * 1000000 // (CAST(nn AS HUGEINT) * (n + {_EB_M}))
            AS BIGINT) AS shrunk_ppm,
       CAST(xx * 1000000 // nn AS BIGINT) AS grand_ppm
FROM b CROSS JOIN g ORDER BY brand
""",
    category="relational",
)
def eb_shrunk_brand_return_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMPIRICAL-BAYES SHRINKAGE of per-brand return rates toward the
    grand mean (beta-binomial posterior mean with prior strength
    m=200, the _EB_M constant): shrunk = (x_b + m·p̄)/(n_b + m) —
    small brands pull hard toward the corpus rate, big brands barely
    move. The James-Stein-style stabilization every per-segment metric
    dashboard needs before ranking small cells, in the exact rational
    form (x_b·N + m·X)·10⁶ // (N·(n_b + m)) — integer-exact,
    non-negative, floor == truncate in both engines. Scale shape: one
    broadcast-dim join, one brand aggregation (25 groups), one scalar
    attach."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
    )
    g = b.agg(F.sum("n").alias("nn"), F.sum("x").alias("xx"))
    return (
        b.crossJoin(F.broadcast(g))
        .selectExpr(
            "brand",
            "n AS n_items",
            "CAST(x * 1000000 div n AS BIGINT) AS raw_ppm",
            _spark(
                f"CAST((CAST(x AS {{I}}) * nn + {_EB_M} *"
                f" CAST(xx AS {{I}})) * 1000000"
                f" {{D}} (CAST(nn AS {{I}}) * (n + {_EB_M}))"
                " AS BIGINT)"
            )
            + " AS shrunk_ppm",
            "CAST(xx * 1000000 div nn AS BIGINT) AS grand_ppm",
        )
        .orderBy("brand")
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
    category="llm_textstats",
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


# ---------------------------------------------------------------------------
# Kendall concordance between two daily event series
# ---------------------------------------------------------------------------

_TAU_DIV = _ss_div("conc - disc", "npairs", 1000000)


@register(
    "kendall_tau_daily_error_click",
    oracle="""
WITH days AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
  FROM days a JOIN days b ON a.d < b.d
),
cnt AS (
  SELECT
    CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS conc,
    CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS disc,
    CAST(SUM(CASE WHEN xa = xb OR ya = yb THEN 1 ELSE 0 END)
         AS BIGINT) AS tied_pairs,
    CAST(count(*) AS BIGINT) AS npairs
  FROM p
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_days,
       conc AS concordant, disc AS discordant, tied_pairs,
       """ + _duck(_TAU_DIV) + """ AS tau_a_ppm
FROM cnt
""",
    category="relational",
)
def kendall_tau_daily_error_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KENDALL RANK CONCORDANCE (tau-a, integer-exact) between the
    daily error-event and click-event counts: over all day pairs,
    concordant minus discordant over total pairs — the
    distribution-free monotone-association test (no sqrt, unlike
    tau-b, so it stays inside the no-transcendental doctrine; ties
    reported separately). The ops question it answers: do error
    bursts co-move with traffic? Scale shape: one map-side daily
    aggregation collapses the fact table to the bounded DAY domain
    (~30 rows here, ≤ calendar at any SF — the hodges_lehmann
    precedent), then the pair enumeration is quadratic in DAYS only;
    one final scalar rollup."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("y"),
        )
    )
    a = days.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = days.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    p = a.join(F.broadcast(b), F.col("da") < F.col("db"))
    cnt = p.selectExpr(
        "CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS conc",
        "CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)"
        " AS BIGINT) AS disc",
        "CAST(SUM(CASE WHEN xa = xb OR ya = yb THEN 1 ELSE 0 END)"
        " AS BIGINT) AS tied_pairs",
        "CAST(count(*) AS BIGINT) AS npairs",
    )
    nd = days.agg(F.count("*").alias("n_days"))
    return cnt.crossJoin(F.broadcast(nd)).selectExpr(
        "n_days",
        "conc AS concordant",
        "disc AS discordant",
        "tied_pairs",
        _spark(_TAU_DIV) + " AS tau_a_ppm",
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
    category="llm_graph",
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
    from spark_lever_spark.llm.graph import copurchase_edges

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
        _spark(
            "CAST(CAST(s2 AS {I}) * s2 * s2 * 1000"
            " {D} (6 * CAST(s1 AS {I}) * s1 * s1) AS BIGINT)"
        )
        + " AS expected_milli",
        _spark(
            "CASE WHEN s2 > 0 THEN"
            " CAST(CAST(t_obs AS {I}) * 6000 * s1 * s1 * s1"
            " {D} (CAST(s2 AS {I}) * s2 * s2) AS BIGINT) END"
        )
        + " AS excess_ratio_milli",
    )
