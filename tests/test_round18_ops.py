"""Independent-reference checks for the round-18 additions — plain-
Python replays per the house simulator-equality pattern, so a shared
SQL-side misconception cannot hide in both engines."""

from __future__ import annotations

import hashlib
import math

import duckdb

from spark_lever_spark import registry
from spark_lever_spark.llm.curation import _BITS_PER_GRAM, _NGRAM
from spark_lever_spark.llm.similarity import _N_QUERIES, _NPROBES, _TOPK

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return registry.all_queries()[name].fn(spark, SF).toPandas()


def _docs():
    return duckdb.sql(
        f"SELECT doc_id, text, source, lang FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _pos(tag: str, gram: str, m: int) -> int:
    return int(hashlib.md5(f"{tag}:{gram}".encode()).hexdigest()[:12], 16) % m


def test_bloom_ngram_audit_brute(spark):
    """Full Python replay of the Bloom decontamination audit: gram
    explode, filter build, per-instance probe, exact verify."""
    eval_grams: set[str] = set()
    corpus: list[tuple[int, str]] = []
    for doc_id, text, _, _ in _docs():
        toks = text.split(" ")
        grams = [
            " ".join(toks[i : i + _NGRAM])
            for i in range(len(toks) - _NGRAM + 1)
        ]
        if doc_id % 10 == 7:
            eval_grams.update(grams)
        else:
            corpus.extend((doc_id, g) for g in grams)
    m = _BITS_PER_GRAM * len(eval_grams)
    bits = {
        _pos(tag, g, m) for g in eval_grams for tag in ("b1", "b2")
    }
    n_flagged = n_true = n_fp = n_missed = 0
    docs_flagged: set[int] = set()
    docs_hit: set[int] = set()
    for doc_id, g in corpus:
        flagged = _pos("b1", g, m) in bits and _pos("b2", g, m) in bits
        hit = g in eval_grams
        n_flagged += flagged
        n_true += hit
        n_fp += flagged and not hit
        n_missed += hit and not flagged
        if flagged:
            docs_flagged.add(doc_id)
        if hit:
            docs_hit.add(doc_id)
    assert n_missed == 0  # Bloom filters have no false negatives

    row = _run(spark, "decontaminate_bloom_ngram_audit").iloc[0]
    assert row.n_eval_grams == len(eval_grams)
    assert row.n_bits_set == len(bits)
    assert row.n_corpus_grams == len(corpus)
    assert row.n_flagged == n_flagged
    assert row.n_true_hits == n_true
    assert row.n_false_pos == n_fp
    assert row.n_missed == 0
    assert row.n_docs_flagged == len(docs_flagged)
    assert row.n_docs_contaminated == len(docs_hit)
    # the prefilter must never under-flag the exact hits
    assert row.n_flagged >= row.n_true_hits


def _embs():
    return duckdb.sql(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) "
        f"FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return d / (na * nb)


def test_ivf_recall_curve_brute(spark):
    """Python replay: centroid ranking + brute top-k per query; recall
    at depth p counts brute members whose cell ranks <= p. The curve
    must be monotone in p and reach the all-cells recall of 1.0 when
    p >= number of cells."""
    rows = _embs()
    by_label: dict[str, list[list[float]]] = {}
    for _, label, v in rows:
        by_label.setdefault(label, []).append(v)
    cents = {
        lbl: [sum(col) / len(col) for col in zip(*vs)]
        for lbl, vs in by_label.items()
    }
    queries = [(vid, v) for vid, _, v in rows if vid < _N_QUERIES]
    found = {p: 0 for p in _NPROBES}
    for qid, qv in queries:
        rank = sorted(
            cents,
            key=lambda c: (-round(_cos(cents[c], qv), 9), c),
        )
        cell_rk = {c: i + 1 for i, c in enumerate(rank)}
        brute = sorted(
            (r for r in rows if r[0] != qid),
            key=lambda r: (-round(_cos(r[2], qv), 9), r[0]),
        )[:_TOPK]
        for _, label, _ in brute:
            for p in _NPROBES:
                if cell_rk[label] <= p:
                    found[p] += 1

    got = _run(spark, "ann_ivf_nprobe_recall_curve")
    assert list(got.nprobe) == list(_NPROBES)
    for _, r in got.iterrows():
        assert r.n_queries == len(queries)
        assert r.n_found == found[r.nprobe]
        assert abs(
            r.recall_at_10 - round(found[r.nprobe] / (10.0 * len(queries)), 4)
        ) < 1e-12
    # monotone in probe depth; full probe of all cells is exhaustive
    rec = list(got.recall_at_10)
    assert rec == sorted(rec)
    if max(_NPROBES) >= len(cents):
        assert rec[-1] == 1.0


def test_word_ngrams_short_doc_and_md5_pos_parity(spark):
    """Edge branches the corpus never hits: a document shorter than
    the n-gram width yields an EMPTY gram array (not a descending
    sequence artifact — Spark's sequence(1, 0) would count down), and
    the Spark-side md5 probe positions equal the Python/DuckDB
    formula bit-for-bit."""
    from pyspark.sql import functions as F

    from spark_lever_spark.llm.curation import _md5_pos, _word_ngrams

    df = spark.createDataFrame(
        [("a b", 1), ("a b c d e", 2), ("a b c d e f", 3), ("", 4)],
        ["text", "id"],
    ).select(
        "id", _word_ngrams(F.split("text", " "), 5).alias("grams")
    )
    got = {r.id: r.grams for r in df.collect()}
    assert got[1] == []
    assert got[2] == ["a b c d e"]
    assert got[3] == ["a b c d e", "b c d e f"]
    # empty string splits to [''] (1 token) -> shorter than n -> empty
    assert got[4] == []

    m = 12345
    probe = (
        spark.range(1)
        .select(
            _md5_pos(F.lit("hello world x"), "b1", F.lit(m)).alias("p1"),
            _md5_pos(F.lit("hello world x"), "b2", F.lit(m)).alias("p2"),
        )
        .first()
    )
    assert probe.p1 == _pos("b1", "hello world x", m)
    assert probe.p2 == _pos("b2", "hello world x", m)
