"""Composed training-data pipeline (SURVEY.md §7 P5 `quality_filter`
composition): the capstone query chaining the standalone LLM stages —

  documents -> quality gate (length/avg-token-len) -> exact dedup
  (normalized fingerprint, keep lowest doc_id) -> corpus stats per
  (lang, source)

Every stage is the same code path a 100 TB corpus build would run:
built-in expressions only, one shuffle for the dedup (on the 128-bit
fingerprint, never the text), one for the final rollup. Document counts
and token totals survive as exact integers end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.llm.dedup import content_fingerprint, normalized_text
from spark_lever_spark.llm.textstats import token_count
from spark_lever_spark.registry import register


def quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The boolean quality filter from text_quality_scores as a
    standalone stage: >=10 tokens and mean token length < 12 chars."""
    n_tok = token_count(F.col(text_col))
    n_ch = F.length(text_col)
    return docs.filter(
        n_tok.between(10, 100000) & (n_ch.cast("double") / n_tok < 12)
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest-doc_id representative of each normalized
    fingerprint (the exact-dedup stage as a row filter, not a rollup)."""
    fp = content_fingerprint(normalized_text(F.col(text_col)))
    ranked = docs.withColumn("__fp__", fp).withColumn(
        "__keep__", F.min("doc_id").over(Window.partitionBy("__fp__"))
    )
    return ranked.filter(F.col("doc_id") == F.col("__keep__")).drop(
        "__fp__", "__keep__"
    )


@register(
    "pipeline_quality_dedup_stats",
    oracle="""
WITH gated AS (
  SELECT *, len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
            AS n_tok
  FROM documents
  WHERE len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
          BETWEEN 10 AND 100000
    AND CAST(length(text) AS DOUBLE)
        / len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) < 12
),
kept AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ) AS keep_id
    FROM gated
  ) WHERE doc_id = keep_id
)
SELECT lang, source,
       COUNT(*) AS docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM kept
GROUP BY lang, source
ORDER BY lang, source
""",
)
def pipeline_quality_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality gate -> dedup-keep-first -> per-(lang, source) corpus
    stats. The end-to-end composition every stage was built for.

    Shuffle-payload discipline: the fingerprint and token count are
    computed ONCE in the map stage and `text` is projected away BEFORE
    the dedup window — the fp-partitioned shuffle then carries ~50
    bytes/row (ids + fp + small dims) instead of the document body.
    (The earlier form kept `text` through the window: the shuffle key
    was the digest but the payload was the corpus — exactly the
    mistake the dedup modules' "shuffle digests, not text" rule
    exists to prevent. At 100 TB that is the whole job's bytes.)"""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    n_ch = F.length("text")
    slim = docs.select(
        "doc_id",
        "lang",
        "source",
        n_tok.alias("n_tok"),
        (n_tok.between(10, 100000) & (n_ch.cast("double") / n_tok < 12)).alias(
            "passes"
        ),
        content_fingerprint(normalized_text(F.col("text"))).alias("fp"),
    ).filter(F.col("passes"))
    kept = (
        slim.withColumn(
            "keep_id", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    return (
        kept.groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "source")
    )


@register(
    "pipeline_pii_paragraph_pack",
    oracle="""
WITH red AS (
  SELECT doc_id, source,
         regexp_replace(regexp_replace(
           'u' || CAST(doc_id AS VARCHAR) || '@ex'
             || CAST(doc_id % 10 AS VARCHAR) || '.com +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
             || COALESCE(text, ''),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\\+1-555-[0-9]{4}', '[PHONE]', 'g') AS rt
  FROM documents
),
paras AS (
  SELECT doc_id, source, CAST(t.p AS BIGINT) AS p,
         list_aggregate(
           string_split(rt, ' ')[CAST(t.p AS INT) * 16 + 1
                                 : CAST(t.p AS INT) * 16 + 16],
           'string_agg', ' ') AS para
  FROM red,
       LATERAL unnest(range(CAST(ceil(len(string_split(rt, ' ')) / 16.0)
                                 AS BIGINT))) AS t(p)
),
kept AS (
  SELECT doc_id, source, p, para FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(para)
                                 ORDER BY doc_id, p) AS rn
    FROM paras
  ) WHERE rn = 1
),
rebuilt AS (
  SELECT doc_id, source,
         CAST(len(string_split(string_agg(para, ' ' ORDER BY p), ' ')) + 1
              AS BIGINT) AS toks
  FROM kept GROUP BY doc_id, source
),
o AS (
  SELECT source, doc_id, toks,
         CAST(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - toks AS BIGINT)
           AS off
  FROM rebuilt
),
hit AS (
  SELECT o.source,
         CAST(o.off // 2048 + t.k AS BIGINT) AS chunk_idx,
         least(o.off + o.toks, (o.off // 2048 + t.k + 1) * 2048)
           - greatest(o.off, (o.off // 2048 + t.k) * 2048) AS toks_in_chunk
  FROM o,
       LATERAL unnest(range((o.off + o.toks - 1) // 2048 - o.off // 2048 + 1))
         AS t(k)
)
SELECT source, chunk_idx,
       CAST(SUM(toks_in_chunk) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_docs
FROM hit GROUP BY source, chunk_idx
ORDER BY source, chunk_idx
""",
)
def pipeline_pii_paragraph_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 curation stages COMPOSED end-to-end: PII redaction
    (map-only regexp chain over a doc_id-derived contact line + text)
    -> corpus-wide paragraph dedup with document reconstruction (the
    C4-style sub-document pass; docs fully consumed by earlier
    duplicates drop out) -> GPT-style concat packing of the surviving
    rebuilt documents into 2048-token sequences. Three stages, three
    shuffles (paragraph-hash window, per-doc regroup, per-source
    offset window) — the composition cost is the SUM of the stage
    costs, no multiplicative blowup, which is the property that lets a
    100 TB pipeline run as one job. The oracle recomputes the full
    three-stage chain in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    red = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(
            F.regexp_replace(
                F.concat(
                    F.lit("u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@ex"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit(".com +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" "),
                    F.coalesce(F.col("text"), F.lit("")),
                ),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
                "[EMAIL]",
            ),
            "\\+1-555-[0-9]{4}",
            "[PHONE]",
        ).alias("rt"),
    )
    toks = F.split("rt", " ")
    n_paras = F.ceil(F.size(toks) / 16.0).cast("long")
    paras = red.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda p: F.array_join(F.slice(toks, p * 16 + 1, 16), " "),
            )
        ).alias("p", "para"),
    ).withColumn("p", F.col("p").cast("long"))
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy("doc_id", "p")
    rebuilt = (
        paras.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id", "source")
        .agg(
            (
                F.size(
                    F.split(
                        F.array_join(
                            F.transform(
                                F.sort_array(
                                    F.collect_list(F.struct("p", "para"))
                                ),
                                lambda s: s["para"],
                            ),
                            " ",
                        ),
                        " ",
                    )
                )
                + 1
            )
            .cast("long")
            .alias("toks"),
        )
    )
    # 2-pass per-source offset (grank doctrine): source is
    # low-cardinality, so the running sum buckets over doc_id
    from spark_lever_spark.operators.grank import with_grouped_cumsum

    o = with_grouped_cumsum(
        rebuilt, ["source"], F.col("doc_id"), ["doc_id"], "toks"
    ).withColumn("off", F.col("_cum") - F.col("toks"))
    first_chunk = (F.col("off") / 2048).cast("long")
    last_chunk = ((F.col("off") + F.col("toks") - 1) / 2048).cast("long")
    hit = o.select(
        "source",
        "off",
        "toks",
        F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_idx"),
    ).select(
        "source",
        "chunk_idx",
        (
            F.least(F.col("off") + F.col("toks"), (F.col("chunk_idx") + 1) * 2048)
            - F.greatest(F.col("off"), F.col("chunk_idx") * 2048)
        ).alias("toks_in_chunk"),
    )
    return (
        hit.groupBy("source", "chunk_idx")
        .agg(
            F.sum("toks_in_chunk").alias("n_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source", "chunk_idx")
    )
