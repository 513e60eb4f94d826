"""Training-sequence preparation: sliding-window chunking and greedy
sequence packing — the two ops that turn a cleaned document corpus into
fixed-capacity training rows (SURVEY.md §7 P5 extension; no reference
equivalent).

Scale shapes:
- chunking is pure per-row expression work (split -> index sequence ->
  slice), no shuffle at all, fully inside whole-stage codegen;
- packing is partition-local greedy first-fit via ``mapInPandas``; bin
  ids are made globally unique by offsetting with the partition id.
  Packing quality is per-partition (a global optimum would need a
  sort + sequential pass, inherently serial); first-fit over docs <=
  capacity guarantees >50 % utilization of every bin but the last per
  partition, which is the accepted trade at corpus scale.

Memory contract (the 100 TB concern): the packer streams Arrow batches
through the first-fit loop — Python holds one batch plus a per-bin fill
counter, never the whole partition. The required ascending-id order
comes from a Spark-side ``sortWithinPartitions`` (external, spillable
sort — the JVM absorbs the partition, not Python). Per-partition work
follows the input's partitioning: the packer adds no repartition, so
a skewed input packs its largest partition in one task. ``bin_fill``
is derived downstream by a window over ``bin_id`` — a ~24-byte/row
shuffle, the price of not buffering the partition in Python.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.operators.grank import with_grouped_cumsum
from spark_lever_spark.registry import register


@register(
    "text_chunk_sliding",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
chunks AS (
  SELECT t.doc_id,
         CAST(s.s AS BIGINT) // 48 AS chunk_idx,
         list_slice(t.l, CAST(s.s AS INT) + 1, CAST(s.s AS INT) + 64) AS c
  FROM tok t,
       LATERAL (SELECT unnest(range(0, len(t.l), 48)) AS s) s
)
SELECT doc_id, chunk_idx,
       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
       array_to_string(c, ' ') AS chunk_text
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 64-token windows at stride 48 (16-token
    overlap) — the pre-tokenization split for long documents. Start
    offsets come from ``sequence(0, n-1, stride)`` so the tail is
    always covered by a (possibly short) final chunk; everything is
    array expressions on the already-split tokens, zero shuffles before
    the presentation sort."""
    chunk, stride = 64, 48
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("l") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        tok.select("doc_id", F.explode(starts).alias("s"), "l")
        .select(
            "doc_id",
            (F.col("s") / stride).cast("long").alias("chunk_idx"),
            F.slice("l", F.col("s") + 1, chunk).alias("c"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", "c").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    capacity: int,
) -> DataFrame:
    """Greedy first-fit sequence packing: assign each document to a
    bin so no bin exceeds ``capacity`` tokens (documents larger than
    the capacity get a dedicated bin — truncation is the tokenizer's
    job, not the packer's). Bins are globally unique via
    (partition_id, local_bin). Deterministic for a deterministic input
    partitioning: docs are processed in ascending id order within each
    partition (Spark-side sortWithinPartitions, so ordering costs JVM
    spillable-sort memory, not Python memory).
    """
    src = df.select(id_col, n_tokens_col).sortWithinPartitions(id_col)

    out_schema = f"{id_col} long, {n_tokens_col} long, bin_id long"

    def pack(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = pid * 10_000_000
        bins: list[int] = []  # current fill per local bin — the only
        # state that outlives a batch; each Arrow batch streams through
        # the first-fit loop and is yielded immediately, so Python
        # memory is O(arrow batch), not O(partition)
        for pdf in batches:
            if pdf.empty:
                continue
            assigned: list[int] = []
            for r in pdf.itertuples(index=False):
                need = int(getattr(r, n_tokens_col))
                target = next(
                    (i for i, fill in enumerate(bins) if fill + need <= capacity),
                    None,
                )
                if target is None:
                    bins.append(0)
                    target = len(bins) - 1
                bins[target] += need
                assigned.append(base + target)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").values,
                    n_tokens_col: pdf[n_tokens_col].astype("int64").values,
                    "bin_id": assigned,
                }
            )

    packed = src.mapInPandas(pack, out_schema)
    # final fill per bin, derived declaratively (members of a bin are
    # always in one partition, so the window sees them all)
    fill_w = Window.partitionBy("bin_id")
    return packed.withColumn(
        "bin_fill", F.sum(n_tokens_col).over(fill_w).cast("long")
    )


@register(
    "pack_documents_2048",
    # bin IDS depend on partitioning, but the packing INVARIANTS do
    # not — so the hash-checked output is the invariant summary (the
    # oracle recomputes doc/token totals; a packer bug flips a boolean
    # or changes a count). Per-row assignment checks: tests/test_packing.py.
    oracle="""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       TRUE AS docs_packed_once,
       TRUE AS fills_within_capacity,
       TRUE AS fills_consistent
FROM documents
""",
)
def pack_documents_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 2048-token bins by whitespace token count,
    then reduce to the partitioning-independent invariant summary:
    every doc packed exactly once, every bin within capacity, bin_fill
    consistent with its members' token sum."""
    capacity = 2048
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    packed = pack_documents(docs, "doc_id", "n_tokens", capacity=capacity)
    per_bin = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("member_sum"),
        F.max("bin_fill").alias("fill_max"),
        F.min("bin_fill").alias("fill_min"),
        F.count("*").alias("n_members"),
        F.max("n_tokens").alias("largest_doc"),
    )
    return packed.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.countDistinct("doc_id") == F.count("*")).alias("docs_packed_once"),
    ).crossJoin(
        F.broadcast(
            per_bin.agg(
                # a bin may exceed capacity only when it holds a single
                # doc that is itself oversized (dedicated-bin rule)
                F.every(
                    (F.col("fill_max") <= capacity)
                    | ((F.col("n_members") == 1) & (F.col("largest_doc") > capacity))
                ).alias("fills_within_capacity"),
                F.every(
                    (F.col("fill_max") == F.col("fill_min"))
                    & (F.col("member_sum") == F.col("fill_max"))
                ).alias("fills_consistent"),
            )
        )
    )


_CONCAT_SEQ = 2048  # tokens per training sequence (incl. 1 EOD/doc)


@register(
    "pack_concat_2048",
    oracle=f"""
WITH d AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS toks
  FROM documents
),
o AS (
  SELECT source, doc_id, toks,
         CAST(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - toks AS BIGINT)
           AS off
  FROM d
),
spans AS (
  SELECT source, doc_id,
         off // {_CONCAT_SEQ} AS first_chunk,
         (off + toks - 1) // {_CONCAT_SEQ} AS last_chunk,
         off, toks
  FROM o
),
hit AS (
  SELECT s.source, s.doc_id,
         CAST(s.first_chunk + t.k AS BIGINT) AS chunk_idx,
         least(s.off + s.toks, (s.first_chunk + t.k + 1) * {_CONCAT_SEQ})
           - greatest(s.off, (s.first_chunk + t.k) * {_CONCAT_SEQ})
           AS toks_in_chunk
  FROM spans s,
       LATERAL unnest(range(s.last_chunk - s.first_chunk + 1)) AS t(k)
)
SELECT source, chunk_idx,
       CAST(SUM(toks_in_chunk) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_docs
FROM hit GROUP BY source, chunk_idx
ORDER BY source, chunk_idx
""",
)
def pack_concat_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style CONCAT packing (the complement of the first-fit
    `pack_documents_2048` above): per source, documents concatenate in
    doc_id order (one EOD token each) into one long token stream cut
    into fixed 2048-token training sequences — documents STRADDLE
    sequence boundaries instead of being bin-packed whole. Entirely
    window arithmetic: a per-source cumulative token offset assigns
    every document its [first_chunk, last_chunk] span, a bounded
    explode emits per-(doc, chunk) overlap lengths, and the rollup
    yields exact per-sequence token/doc counts — every chunk but each
    source's last must hold exactly 2048 tokens (pinned in
    tests/test_packing.py). No Python in the loop. At 100 TB the
    'order by doc_id within source' is the deterministic shard order a
    real pipeline fixes at ingest — and because source is a
    LOW-cardinality key, the per-source running offset is 2-passed
    over doc_id buckets (grank.with_grouped_cumsum) so no task ever
    sorts a whole source; bit-identical to the single-window form."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        (F.size(F.split("text", " ")) + 1).cast("long").alias("toks"),
    )
    o = with_grouped_cumsum(
        d, ["source"], F.col("doc_id"), ["doc_id"], "toks"
    ).withColumn("off", F.col("_cum") - F.col("toks"))
    spans = o.select(
        "source",
        "doc_id",
        "off",
        "toks",
        (F.col("off") / _CONCAT_SEQ).cast("long").alias("first_chunk"),
        ((F.col("off") + F.col("toks") - 1) / _CONCAT_SEQ)
        .cast("long")
        .alias("last_chunk"),
    )
    hit = spans.select(
        "source",
        "doc_id",
        "off",
        "toks",
        F.explode(
            F.sequence(F.col("first_chunk"), F.col("last_chunk"))
        ).alias("chunk_idx"),
    ).select(
        "source",
        "chunk_idx",
        (
            F.least(
                F.col("off") + F.col("toks"),
                (F.col("chunk_idx") + 1) * _CONCAT_SEQ,
            )
            - F.greatest(F.col("off"), F.col("chunk_idx") * _CONCAT_SEQ)
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
