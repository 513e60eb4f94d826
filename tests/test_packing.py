"""Sequence packing (llm/packing.py): capacity/coverage invariants that
hold for ANY partitioning, since bin assignment itself is
partition-dependent."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_lever_spark.llm.packing import pack_documents


def test_packing_invariants(spark):
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(900)) + 1).alias("n_tokens"),
    )
    packed = pack_documents(docs, "doc_id", "n_tokens", capacity=1000)
    rows = packed.collect()
    # every doc packed exactly once
    assert sorted(r.doc_id for r in rows) == list(range(300))
    # no bin over capacity; bin_fill is consistent with its members
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r.bin_id, []).append(r)
    for b, members in by_bin.items():
        fill = sum(m.n_tokens for m in members)
        assert fill <= 1000, (b, fill)
        assert all(m.bin_fill == fill for m in members)


def test_packing_empty_partitions(spark):
    # regression: 3 rows spread over 8 partitions leaves >=5 empty
    # partitions — the streaming packer must not choke on them
    # (r01 ADVICE: pd.concat([]) crash)
    docs = (
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["doc_id", "n_tokens"])
        .repartition(8)
    )
    rows = pack_documents(docs, "doc_id", "n_tokens", 100).collect()
    assert {r.doc_id for r in rows} == {1, 2, 3}


def test_packing_oversized_doc_gets_own_bin(spark):
    docs = spark.createDataFrame(
        [(1, 5000), (2, 10), (3, 20)], ["doc_id", "n_tokens"]
    ).coalesce(1)
    rows = pack_documents(docs, "doc_id", "n_tokens", 100).collect()
    big = next(r for r in rows if r.doc_id == 1)
    others = [r for r in rows if r.doc_id != 1]
    assert all(r.bin_id != big.bin_id for r in others)
    assert {r.doc_id for r in rows} == {1, 2, 3}


def test_concat_chunks_exactly_full_except_last(spark, sf_dir):
    """Concat packing invariants: within each source, every chunk but
    the last holds exactly 2048 tokens; chunk indexes are contiguous
    from 0; total tokens equal the per-source token+EOD sum."""
    from pyspark.sql import functions as F

    from spark_lever_spark import registry
    from spark_lever_spark.catalog import load_table

    out = (
        registry.all_queries()["pack_concat_2048"]
        .fn(spark, sf_dir)
        .collect()
    )
    by_source: dict[str, list] = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    docs = load_table(spark, sf_dir, "documents")
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " ")) + 1).alias("t"))
        .collect()
    }
    assert by_source
    for src, rows in by_source.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        assert all(r["n_tokens"] == 2048 for r in rows[:-1])
        assert 0 < rows[-1]["n_tokens"] <= 2048
        assert sum(r["n_tokens"] for r in rows) == totals[src]
        assert all(r["n_docs"] >= 1 for r in rows)
