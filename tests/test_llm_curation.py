"""Behavioral tests for llm/curation.py beyond DuckDB hash parity
(which tests/test_queries_oracle.py already sweeps): each property is
recomputed in plain Python (hashlib/pandas) as a THIRD independent
implementation, so a shared Spark/DuckDB misunderstanding can't hide.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from spark_lever_spark import registry
from spark_lever_spark.llm.curation import (
    _BENCH_MOD,
    _GRAM_N,
    _WINNOW_K,
    _WINNOW_W,
)

ALL = registry.all_queries()


def _md5_long(s: str, nhex: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:nhex], 16)


@pytest.fixture(scope="module")
def docs_pdf(sf_dir) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def test_decontaminate_matches_python_ground_truth(spark, sf_dir, docs_pdf):
    got = (
        ALL["text_decontaminate"].fn(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    # Python ground truth
    grams: dict[int, list[int]] = {}
    bench: set[int] = set()
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        g = [
            _md5_long(" ".join(toks[i : i + _GRAM_N]), 12)
            for i in range(len(toks) - _GRAM_N + 1)
        ]
        grams[r.doc_id] = g
        if _md5_long(str(r.doc_id), 8) % _BENCH_MOD == 0:
            bench.add(r.doc_id)
    blocklist = {h for d in bench for h in grams[d]}
    expected_rows = set(grams) - bench
    assert set(got.index) == expected_rows
    for d in expected_rows:
        hits = sum(1 for h in grams[d] if h in blocklist)
        assert got.loc[d, "n_grams"] == len(grams[d])
        assert got.loc[d, "n_hits"] == hits
        assert bool(got.loc[d, "contaminated"]) == (hits > 0)


def test_bigram_novelty_matches_python_ground_truth(spark, sf_dir, docs_pdf):
    got = (
        ALL["text_bigram_novelty"].fn(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    bigrams = {
        r.doc_id: [
            " ".join(p)
            for p in zip(r.text.split(" "), r.text.split(" ")[1:])
        ]
        for r in docs_pdf.itertuples()
    }
    lm: dict[str, int] = {}
    for d, bgs in bigrams.items():
        if d % 2 == 0:
            for bg in bgs:
                lm[bg] = lm.get(bg, 0) + 1
    held = {d for d in bigrams if d % 2 != 0}
    assert set(got.index) == held
    for d in held:
        bgs = bigrams[d]
        oov = sum(1 for bg in bgs if bg not in lm)
        sumfreq = sum(lm.get(bg, 0) for bg in bgs)
        assert got.loc[d, "n_bigrams"] == len(bgs)
        assert got.loc[d, "n_oov"] == oov
        assert got.loc[d, "sum_train_freq"] == sumfreq


def test_hash_bucket_sample_exact_membership(spark, sf_dir, docs_pdf):
    got = ALL["sample_hash_bucket"].fn(spark, sf_dir).toPandas()
    expected = {
        int(d) for d in docs_pdf.doc_id if _md5_long(str(d), 8) % 100 < 25
    }
    assert set(got.doc_id) == expected
    # membership is a row property: a second run is bit-identical
    again = ALL["sample_hash_bucket"].fn(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(got, again)
    # ~25% of docs, binomial tolerance
    frac = len(got) / len(docs_pdf)
    assert 0.15 < frac < 0.35


def test_winnow_fingerprints_match_python_ground_truth(
    spark, sf_dir, docs_pdf
):
    got = (
        ALL["text_fingerprint_winnow"].fn(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        h = [
            _md5_long(" ".join(toks[i : i + _WINNOW_K]), 10)
            for i in range(len(toks) - _WINNOW_K + 1)
        ]
        if len(h) >= _WINNOW_W:
            wins = [
                min(h[i : i + _WINNOW_W])
                for i in range(len(h) - _WINNOW_W + 1)
            ]
        else:
            wins = [min(h)] if h else []
        fps = sorted(set(wins))
        assert got.loc[r.doc_id, "n_fps"] == len(fps)
        assert got.loc[r.doc_id, "fps"] == ",".join(str(x) for x in fps)


def test_winnow_shared_run_guarantee(spark, sf_dir, docs_pdf):
    """Winnowing guarantee (SIGMOD'03): two docs sharing a token run of
    length >= k + w - 1 share at least one fingerprint. Verify against
    every such pair found in the corpus."""
    run_len = _WINNOW_K + _WINNOW_W - 1
    got = (
        ALL["text_fingerprint_winnow"].fn(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    fp_sets = {
        d: set(v.split(",")) if v else set() for d, v in got["fps"].items()
    }
    # index docs by each token run of length run_len
    runs: dict[str, list[int]] = {}
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        for i in range(len(toks) - run_len + 1):
            runs.setdefault(" ".join(toks[i : i + run_len]), []).append(
                r.doc_id
            )
    checked = 0
    for ds in runs.values():
        uniq = sorted(set(ds))[:3]  # a few pairs per run suffice
        for i in range(len(uniq)):
            for j in range(i + 1, len(uniq)):
                assert fp_sets[uniq[i]] & fp_sets[uniq[j]], (
                    f"docs {uniq[i]},{uniq[j]} share a {run_len}-token run "
                    "but no winnow fingerprint"
                )
                checked += 1
    assert checked > 0, "corpus has no shared runs — guarantee untested"


def test_mix_source_weights_invariants(spark, sf_dir):
    got = ALL["mix_source_weights"].fn(spark, sf_dir).toPandas()
    # shares partition the corpus exactly
    assert abs(got.token_share.sum() - 1.0) < 1e-9
    assert ((got.sample_rate > 0) & (got.sample_rate <= 1.0)).all()
    # a down-sampled group lands exactly on the uniform target share
    target = 1.0 / len(got)
    down = got[got.sample_rate < 1.0]
    assert ((down.token_share * down.sample_rate - target).abs() < 1e-9).all()
    # over-represented groups are the ones down-sampled
    assert (down.token_share > target).all()


def test_pipeline_curate_sample_matches_python_ground_truth(
    spark, sf_dir, docs_pdf
):
    got = ALL["pipeline_curate_sample_stats"].fn(spark, sf_dir).toPandas()
    # Python ground truth of the full chain
    grams: dict[int, set[int]] = {}
    bench: set[int] = set()
    meta: dict[int, tuple] = {}
    for r in docs_pdf.itertuples():
        toks = r.text.split(" ")
        n_tok = len([t for t in r.text.split() if t])
        grams[r.doc_id] = {
            _md5_long(" ".join(toks[i : i + _GRAM_N]), 12)
            for i in range(len(toks) - _GRAM_N + 1)
        }
        if _md5_long(str(r.doc_id), 8) % _BENCH_MOD == 0:
            bench.add(r.doc_id)
        meta[r.doc_id] = (r.lang, r.source, n_tok, len(r.text))
    blocklist = {h for d in bench for h in grams[d]}
    agg: dict[tuple, list] = {}
    for d, (lang, source, n_tok, n_ch) in meta.items():
        if d in bench or not (10 <= n_tok <= 100000) or n_ch / n_tok >= 12:
            continue
        if grams[d] & blocklist:
            continue
        samp = int(hashlib.md5(str(d).encode()).hexdigest()[1:9], 16)
        if samp % 100 >= 50:
            continue
        key = (lang, source)
        cur = agg.setdefault(key, [0, 0, d])
        cur[0] += 1
        cur[1] += n_tok
        cur[2] = min(cur[2], d)
    expect = {
        k: tuple(v) for k, v in agg.items()
    }
    got_map = {
        (r.lang, r.source): (r.docs, r.total_tokens, r.first_doc)
        for r in got.itertuples()
    }
    assert got_map == expect


def test_bpe_kernel_matches_distributed_loop(spark, sf_dir, monkeypatch):
    """Round 18: below _LOCAL_BPE_MAX_WORDS the 5 BPE merge rounds run
    in a single-task kernel over the word-count table; the distributed
    per-round loop must stay pinned to IDENTICAL merge rows (counts,
    symbols, and the (cnt desc, a, b) election tie-break)."""
    from spark_lever_spark import registry
    from spark_lever_spark.llm import selection

    fn = registry.all_queries()["bpe_learn_merges"].fn
    fast = fn(spark, sf_dir).collect()
    monkeypatch.setattr(selection, "_LOCAL_BPE_MAX_WORDS", -1)
    slow = fn(spark, sf_dir).collect()
    monkeypatch.undo()
    assert fast == slow
    assert len(fast) > 0
