"""Near-dup dedup family (llm/dedup.py, llm/graph.py): recall and
guarantee tests against brute-force ground truth on a constructed
corpus. These are the checks the rows-only registry queries
(dedup_minhash_lsh, dedup_simhash, dedup_minhash_clusters) rely on —
their hash families aren't SQL-expressible, so the contract is proven
here instead of against DuckDB.

The corpus is written as a documents.parquet with the production
schema, so every test drives the exact registered query functions.
"""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

from spark_lever_spark import registry

VOCAB = [f"tok{i:03d}" for i in range(400)]


def _text(token_ids: list[int]) -> str:
    return " ".join(VOCAB[i] for i in token_ids)


# corpus design (token-id sets, all deterministic):
# 0,1: identical                     -> jaccard 1.0, simhash hamming 0
# 2,3: 30 tokens, one swapped        -> jaccard 29/31 ~ 0.935
# 4,5: mutually disjoint singletons  -> jaccard 0 with everything
# 6,7,8: chain, one swap per hop     -> 6~7 and 7~8 high-sim, 6~8 lower
_DOCS = {
    0: list(range(0, 30)),
    1: list(range(0, 30)),
    2: list(range(40, 70)),
    3: list(range(40, 69)) + [300],
    4: list(range(100, 130)),
    5: list(range(150, 180)),
    6: list(range(200, 230)),
    7: list(range(200, 229)) + [310],
    8: list(range(200, 228)) + [310, 320],
}


def _true_jaccard(a: int, b: int) -> float:
    sa, sb = set(_DOCS[a]), set(_DOCS[b])
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("dedup_corpus")
    rows = [
        {
            "doc_id": i,
            "text": _text(ids),
            "lang": "en",
            "source": "synthetic",
            "n_chars": len(_text(ids)),
        }
        for i, ids in _DOCS.items()
    ]
    pd.DataFrame(rows).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_minhash_lsh_recall_vs_bruteforce(spark, corpus_dir):
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in registry.all_queries()["dedup_minhash_lsh"]
        .fn(spark, corpus_dir)
        .collect()
    }
    # recall: every truly-high-similarity pair must be a candidate
    # (8 bands x 4 rows: detection prob at s=0.93 is ~0.99998, and the
    # hash family is fixed, so this is deterministic for this corpus)
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(_DOCS), 2)
        if _true_jaccard(a, b) >= 0.9
    }
    assert expected <= set(got), f"missed {expected - set(got)}"
    # estimate quality: k=32 signature -> sd ~ sqrt(s(1-s)/32) <= 0.09;
    # 0.35 is a >3-sigma tolerance for every emitted pair
    for (a, b), est in got.items():
        assert abs(est - _true_jaccard(a, b)) <= 0.35, (a, b, est)
    # precision floor: nothing disjoint may appear
    assert all(_true_jaccard(a, b) > 0 for a, b in got)


def test_simhash_pigeonhole_guarantee(spark, corpus_dir):
    rows = (
        registry.all_queries()["dedup_simhash"].fn(spark, corpus_dir).collect()
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    # identical docs: hamming 0, guaranteed found (all 4 chunks equal)
    assert pairs.get((0, 1)) == 0
    # the emitted set honors its own contract: only distances the
    # 4x15-bit chunk blocking actually guarantees (hamming <= 3)
    assert all(h <= 3 for h in pairs.values()), pairs
    # disjoint-vocabulary docs are far apart in hamming space — they
    # must not appear at <= 3
    assert (4, 5) not in pairs


def test_minhash_clusters_transitive_closure(spark, corpus_dir):
    rows = (
        registry.all_queries()["dedup_minhash_clusters"]
        .fn(spark, corpus_dir)
        .collect()
    )
    clusters = {r.component: r for r in rows}
    # 0,1 identical -> one cluster, canonical = 0
    assert clusters[0].cluster_size == 2 and clusters[0].canonical_doc == 0
    # 2,3 near-dup -> cluster canonical = 2
    assert clusters[2].cluster_size == 2 and clusters[2].canonical_doc == 2
    # 6~7~8 chain closes transitively even though 6-8 similarity is
    # below the direct threshold
    assert clusters[6].cluster_size == 3 and clusters[6].canonical_doc == 6
    # disjoint docs never cluster
    assert {r.component for r in rows} == {0, 2, 6}

def _window_corpus_rows() -> list[dict]:
    """Deterministic dense-background corpus: 150 docs, each a 40-token
    sliding window (stride 3) over a 60-token vocabulary — pairwise
    Jaccard spans ~0.33-0.86 (overlap 40-3d tokens at window distance
    d), i.e. a heavy intermediate-similarity background with NO
    full-set collisions — plus 10 exact copies (J = 1.0), the only
    pairs at J >= 0.95."""
    big_vocab = [f"w{i:03d}" for i in range(60)]
    rows = []
    for i in range(150):
        toks = [big_vocab[(3 * i + j) % 60] for j in range(40)]
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(sorted(set(toks))),
                "lang": "en",
                "source": "windows",
                "n_chars": 0,
            }
        )
    for j in range(10):  # exact copies of docs 0..9
        rows.append({**rows[j], "doc_id": 1000 + j})
    return rows


@pytest.fixture(scope="module")
def dense_corpus_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("dense_corpus")
    pd.DataFrame(_window_corpus_rows()).to_parquet(
        d / "documents.parquet", index=False
    )
    return str(d)


def _cand_pairs(spark, docs, bands: int) -> set[tuple[int, int]]:
    from pyspark.sql import functions as F

    from spark_lever_spark.llm.dedup import minhash_bands

    _, banded = minhash_bands(docs, bands=bands)
    a, bb = banded.alias("a"), banded.alias("b")
    return {
        (x.ia, x.ib)
        for x in a.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .distinct()
        .collect()
    }


def test_tuned_banding_cuts_candidates_at_equal_recall(spark, dense_corpus_dir):
    """Adaptive banding (tune_lsh_banding) on a dense
    intermediate-similarity background: the sampled-histogram choice
    must raise the S-curve threshold above the background bulk,
    cutting candidate pairs hard while keeping every true near-dup
    (J >= 0.95 — here exact copies, whose signatures collide in all
    bands under ANY banding). The fixed 8x4 form stays the
    registry/oracle parity path."""
    from spark_lever_spark.catalog import load_table
    from spark_lever_spark.llm.dedup import tune_lsh_banding

    docs = load_table(spark, dense_corpus_dir, "documents")
    b, r = tune_lsh_banding(docs)
    assert b * r == 32
    assert r > 4, (b, r)  # dense background -> more selective than 8x4

    fixed = _cand_pairs(spark, docs, 8)
    tuned = _cand_pairs(spark, docs, b)
    true_pairs = {(j, 1000 + j) for j in range(10)}
    assert len(tuned) < 0.5 * len(fixed), (len(tuned), len(fixed))
    assert true_pairs <= tuned  # exact copies: recall 1.0 by construction
    assert true_pairs <= fixed

def test_tuned_banding_reduces_sf_corpus_candidates(spark, sf_dir):
    """On the synthetic sf documents table (31-word vocabulary,
    background J ~ 0.5-0.8 — the documented density caveat) the tuned
    banding must cut the candidate count below the fixed 8x4 while
    keeping every identical-token-set pair (J = 1.0: full 32-position
    signature collision, caught by ANY banding)."""
    from pyspark.sql import functions as F

    from spark_lever_spark.catalog import load_table
    from spark_lever_spark.llm.dedup import tokens_distinct, tune_lsh_banding

    docs = load_table(spark, sf_dir, "documents")
    b, r = tune_lsh_banding(docs)
    assert b * r == 32 and r > 4, (b, r)

    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(tokens_distinct(F.col("text"))))
        ).alias("setkey"),
    )
    a, bb = (
        keyed.select(F.col("doc_id").alias("ia"), F.col("setkey").alias("ka")),
        keyed.select(F.col("doc_id").alias("ib"), F.col("setkey").alias("kb")),
    )
    identical = {
        (x.ia, x.ib)
        for x in a.join(
            F.broadcast(bb),
            (F.col("ka") == F.col("kb")) & (F.col("ia") < F.col("ib")),
        ).collect()
    }
    fixed = _cand_pairs(spark, docs, 8)
    tuned = _cand_pairs(spark, docs, b)
    assert len(tuned) < len(fixed), (len(tuned), len(fixed))
    assert identical <= tuned
    assert identical <= fixed


def test_minhash_bands_partitioning_invariant(spark, sf_dir):
    """The r15 parallel-signature fix (minhash_bands repartitions
    narrow inputs to session parallelism) must be a pure physical
    change: signatures and band digests are per-doc deterministic, so
    a 1-partition and an 8-partition input must produce identical
    frames — and the repartition must actually engage on a narrow
    input (the scan of a single small parquet file is 1 partition,
    which serialized the k-hash map until round 15)."""
    from spark_lever_spark.catalog import load_table
    from spark_lever_spark.llm.dedup import minhash_bands

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sig1, band1 = minhash_bands(docs.coalesce(1), bands=4)
    sig8, band8 = minhash_bands(docs.repartition(8), bands=4)
    assert sig1.rdd.getNumPartitions() > 1  # repartition engaged
    a = sorted(
        (r.doc_id, tuple(r.sig)) for r in sig1.collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.sig)) for r in sig8.collect()
    )
    assert a == b
    ba = sorted(
        (r.doc_id, r.band_idx, r.band_digest) for r in band1.collect()
    )
    bb = sorted(
        (r.doc_id, r.band_idx, r.band_digest) for r in band8.collect()
    )
    assert ba == bb


def _minhash_reference(text: str, k: int, bands: int) -> tuple[list, list]:
    """(signature, band digests) of one document recomputed in Python
    from the hash family's definition: md5 40-bit token hashes, the
    affine maps (a_i*(x mod p) + b_i) mod p, md5 band digests."""
    import hashlib
    import re

    from spark_lever_spark.llm.dedup import _MH_A, _MH_B, _MINHASH_P

    tokens = {t for t in re.split(r"\s+", text) if t}
    hashes = [int(hashlib.md5(t.encode()).hexdigest()[:10], 16) for t in tokens]
    sig = [
        min(((x % _MINHASH_P) * _MH_A[i] + _MH_B[i]) % _MINHASH_P for x in hashes)
        for i in range(k)
    ]
    rows = k // bands
    digests = [
        hashlib.md5("-".join(map(str, sig[b * rows:(b + 1) * rows])).encode()).hexdigest()
        for b in range(bands)
    ]
    return sig, digests


@pytest.mark.parametrize("bands", [8, 4])
def test_minhash_bands_match_python_reference(spark, bands):
    """Signatures and band digests are pinned to the hash family's
    definition, not to how the Spark expression is built."""
    from spark_lever_spark.llm.dedup import minhash_bands

    texts = {
        1: _text(_DOCS[0]),
        2: _text(_DOCS[3]),
        3: "  the cat sat on the mat  the cat",
        4: "single",
        5: "tab\tseparated\nand newline separated words",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    sig, banded = minhash_bands(docs, bands=bands)
    want = {d: _minhash_reference(t, 32, bands) for d, t in texts.items()}
    assert {r.doc_id: list(r.sig) for r in sig.collect()} == {
        d: s for d, (s, _) in want.items()
    }
    assert sorted((r.doc_id, r.band_idx, r.band_digest) for r in banded.collect()) == [
        (d, b, digest) for d, (_, ds) in sorted(want.items()) for b, digest in enumerate(ds)
    ]


def test_minhash_bands_spreads_only_a_narrow_scan(spark, sf_dir):
    """The signature map spreads its input to the session's parallelism
    only when the scan is narrower (catalog.spread_scan): a file listing
    that estimates at least as many splits as the parallelism is not
    repartitioned, a narrower one is, and the signatures are identical
    either way."""
    from spark_lever_spark.catalog import load_table
    from spark_lever_spark.llm.dedup import minhash_bands
    from tests.plans import exchange_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # one small file: it estimates one split, narrower than the session
    sig_n, _ = minhash_bands(docs, bands=4)
    # at 1 KB per split the same listing estimates thousands of splits
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        sig_w, _ = minhash_bands(docs, bands=4)
    finally:
        spark.conf.set(conf, old)
    assert exchange_count(sig_n) == 1
    assert exchange_count(sig_w) == 0
    a = sorted((r.doc_id, tuple(r.sig)) for r in sig_w.collect())
    b = sorted((r.doc_id, tuple(r.sig)) for r in sig_n.collect())
    assert a == b
