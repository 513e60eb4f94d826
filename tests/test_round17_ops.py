"""Independent-reference checks for the round-17 additions — plain-
Python replays per the house simulator-equality pattern, so a shared
SQL-side misconception cannot hide in both engines."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb

from spark_lever_spark import registry
from spark_lever_spark.llm.dedup import _MH_A, _MH_B, _MINHASH_P

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return registry.all_queries()[name].fn(spark, SF).toPandas()


def _docs():
    return duckdb.sql(
        f"SELECT doc_id, text, source, lang FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _token_hash(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:10], 16)


def _minhash_sig(toks: set[str]) -> list[int]:
    hs = [_token_hash(t) % _MINHASH_P for t in toks]
    return [
        min((h * _MH_A[i] + _MH_B[i]) % _MINHASH_P for h in hs)
        for i in range(32)
    ]


def _bands(sig: list[int]) -> list[str]:
    return [
        hashlib.md5(
            "-".join(str(s) for s in sig[i * 4 : (i + 1) * 4]).encode()
        ).hexdigest()
        for i in range(8)
    ]


def _pipeline():
    """Python replay of the full LSH pipeline on sf0.001: returns
    (per-doc meta, candidate pairs with est, band-collision pairs)."""
    meta = {}
    bands_by_doc = {}
    sig_by_doc = {}
    for doc_id, text, source, lang in _docs():
        toks = {t for t in text.split() if t}
        meta[doc_id] = (toks, source, lang)
        sig_by_doc[doc_id] = _minhash_sig(toks)
        bands_by_doc[doc_id] = _bands(sig_by_doc[doc_id])
    buckets = defaultdict(list)
    for d, bl in bands_by_doc.items():
        for i, dig in enumerate(bl):
            buckets[(i, dig)].append(d)
    cand = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                cand.add((a, b))
    est = {
        (a, b): round(
            sum(x == y for x, y in zip(sig_by_doc[a], sig_by_doc[b])) / 32.0,
            4,
        )
        for a, b in cand
    }
    return meta, est, cand


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in nodes}


def _er_edges(meta, est):
    edges = []
    for (a, b), e in est.items():
        if e < 0.75:
            continue
        ta, sa, la = meta[a]
        tb, sb, lb = meta[b]
        if sa == sb or la != lb:
            continue
        c = len(ta & tb)
        if 8 * c >= 7 * (len(ta) + len(tb) - c):
            edges.append((a, b))
    return edges


def test_er_cross_source_brute(spark):
    """Full pure-Python replay: md5-affine minhash -> banding -> screen
    -> exact multi-field match -> union-find -> entity table."""
    meta, est, _ = _pipeline()
    edges = _er_edges(meta, est)
    nodes = sorted({n for e in edges for n in e})
    comp = _union_find(nodes, edges)
    expect = defaultdict(lambda: [0, set()])
    for n, c in comp.items():
        expect[c][0] += 1
        expect[c][1].add(meta[n][1])
    got = _run(spark, "er_cross_source_docs")
    assert len(got) == len(expect)
    for row in got.itertuples(index=False):
        n, srcs = expect[row.entity_id]
        assert (row.n_records, row.n_sources) == (n, len(srcs)), row
    # every entity merges >= 2 records from >= 2 sources by construction
    assert (got.n_records >= 2).all() and (got.n_sources >= 2).all()


def test_er_blocking_audit_brute(spark):
    """Ground truth and blocking metrics replayed exactly in Python on
    the fixed-size hash-ordered sample (K=40 docs first in md5(doc_id)
    order — fixed-K keeps the audit O(K^2) at any
    corpus size); consistency inequalities hold by definition."""
    import hashlib

    meta, est, _ = _pipeline()
    samp = set(
        sorted(
            meta,
            key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d),
        )[:40]
    )
    possible = []
    for a in sorted(samp):
        for b in sorted(samp):
            if a < b and meta[a][2] == meta[b][2] and meta[a][1] != meta[b][1]:
                possible.append((a, b))
    truth = set()
    for a, b in possible:
        ta, tb = meta[a][0], meta[b][0]
        c = len(ta & tb)
        if 8 * c >= 7 * (len(ta) + len(tb) - c):
            truth.add((a, b))
    blocked = {
        (a, b)
        for (a, b), e in est.items()
        if e >= 0.75
        and a in samp
        and b in samp
        and meta[a][1] != meta[b][1]
        and meta[a][2] == meta[b][2]
    }
    row = _run(spark, "er_lsh_blocking_audit").iloc[0]
    assert row.n_sample_docs == len(samp)
    assert row.n_possible_pairs == len(possible)
    assert row.n_true_pairs == len(truth)
    assert row.n_blocked_pairs == len(blocked)
    assert row.n_found_pairs == len(truth & blocked)
    assert row.n_found_pairs <= min(row.n_true_pairs, row.n_blocked_pairs)
    assert row.n_blocked_pairs <= row.n_possible_pairs


def test_duplication_matrix_consistency(spark):
    """Matrix totals equal the screened cross-source pair count; the
    unordered source-pair key is canonically ordered."""
    meta, est, _ = _pipeline()
    n_cross = sum(
        1
        for (a, b), e in est.items()
        if e >= 0.8 and meta[a][1] != meta[b][1]
    )
    got = _run(spark, "cross_source_duplication_matrix")
    assert got.n_dup_pairs.sum() == n_cross
    assert (got.source_a < got.source_b).all()
    assert (got.n_docs_involved >= 2).all()


def test_stream_near_dup_equals_batchfree_pairs(spark):
    """Batch-boundary invariance: the 4-micro-batch incremental band
    index yields exactly the batch-free LSH pair table's per-doc
    rollup (replayed in Python)."""
    meta, _, cand = _pipeline()
    partners = defaultdict(set)
    for a, b in cand:
        partners[a].add(b)
        partners[b].add(a)
    got = _run(spark, "stream_minhash_near_dup")
    assert len(got) == len(partners)
    for row in got.itertuples(index=False):
        assert row.n_dup_partners == len(partners[row.doc_id])
        assert row.min_partner == min(partners[row.doc_id])


def test_kmeans_lloyd_refine_brute(spark):
    """Exact-integer Lloyd round replayed in Python (int8 grid, int
    sum-vector centroids, rational re-assignment scores)."""
    import math

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    vecs = {vid: [float(x) for x in emb] for vid, emb in rows}
    s = max(max(abs(x) for x in v) for v in vecs.values()) / 127.0
    q = {
        vid: [int(math.floor(x / s + 0.5)) for x in v]
        for vid, v in vecs.items()
    }
    cents = {cid: q[cid] for cid in range(8) if cid in q}

    def assign1(v):
        return min(
            (sum((a - b) * (a - b) for a, b in zip(v, cv)), cid)
            for cid, cv in cents.items()
        )[1]

    a1 = {vid: assign1(v) for vid, v in q.items()}
    sums, counts = defaultdict(lambda: None), defaultdict(int)
    for vid, cid in a1.items():
        counts[cid] += 1
        if sums[cid] is None:
            sums[cid] = list(q[vid])
        else:
            sums[cid] = [x + y for x, y in zip(sums[cid], q[vid])]

    def assign2(v):
        best = None
        for cid, sv in sums.items():
            n = counts[cid]
            num = sum(x * x for x in sv) - 2 * n * sum(
                a * b for a, b in zip(v, sv)
            )
            f = num / (n * n)
            k = (f, cid)
            if best is None or k < best:
                best = k
        return best[1]

    a2 = {vid: assign2(v) for vid, v in q.items()}
    got = _run(spark, "kmeans_lloyd_refine_embeddings")
    for row in got.itertuples(index=False):
        assert row.n_iter1 == sum(1 for c in a1.values() if c == row.cid)
        assert row.n_iter2 == sum(1 for c in a2.values() if c == row.cid)
        assert row.n_moved_in == sum(
            1
            for vid in q
            if a2[vid] == row.cid and a1[vid] != row.cid
        )
    assert got.n_iter1.sum() == len(q) == got.n_iter2.sum()
