"""Independent-reference checks for the round-15 additions (RDD
action tail + corpus-shape curation wave) — plain-Python replays per
the house simulator-equality pattern, so a shared SQL-side
misconception cannot hide in both engines."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb

from spark_lever_spark import registry

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return registry.all_queries()[name].fn(spark, SF).toPandas()


def _sql(q: str):
    return duckdb.sql(q.replace("{SF}", SF)).fetchall()


def _cents(x: float) -> int:
    return int(x * 100 + (0.5 if x >= 0 else -0.5))


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _shingles3(text: str) -> list[str]:
    w = text.split(" ")
    return [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]


# ---------------------------------------------------------------------------
# §2.E action tail


def test_take_sample_orders_brute(spark):
    rows = _sql("SELECT o_orderkey FROM '{SF}/orders.parquet'")
    want = sorted(
        ((_md5(str(k)), k) for (k,) in rows)
    )[:64]
    got = _run(spark, "take_sample_orders")
    assert sorted(got["o_orderkey"]) == sorted(k for _, k in want)
    assert len(got) == 64


def test_lookup_orders_by_custkey_brute(spark):
    rows = _sql(
        "SELECT o_orderkey, o_totalprice FROM '{SF}/orders.parquet'"
        " WHERE o_custkey = 7 ORDER BY o_orderkey"
    )
    assert rows, "fixture key 7 must have orders at sf0.001"
    got = _run(spark, "lookup_orders_by_custkey")
    assert list(got["o_orderkey"]) == [k for k, _ in rows]
    assert list(got["price_cents"]) == [_cents(p) for _, p in rows]


def test_count_approx_lineitem_brute(spark):
    rows = _sql("SELECT l_orderkey FROM '{SF}/lineitem.parquet'")
    got = _run(spark, "count_approx_lineitem").iloc[0]
    assert got["n_rows"] == len(rows)
    assert got["n_orders"] == len({k for (k,) in rows})


def test_mean_sum_approx_prices_brute(spark):
    cents = [
        _cents(p)
        for (p,) in _sql(
            "SELECT o_totalprice FROM '{SF}/orders.parquet'"
        )
    ]
    n, s = len(cents), sum(cents)
    q = sum(c * c for c in cents)
    var = (n * float(q) - float(s) * float(s)) / (n * float(n - 1))
    half = 1.96 * math.sqrt(var) / math.sqrt(n)
    got = _run(spark, "mean_sum_approx_prices").iloc[0]
    assert got["n"] == n
    assert got["sum_cents"] == s
    # both engines round half AWAY from zero; Python round() is
    # banker's — floor(x+0.5) matches the engines on exact-.5 values
    # (ADVICE r15; same convention as the _cents helper)
    assert got["mean_price"] == math.floor(float(s) / n + 0.5) / 100
    assert abs(got["ci95_halfwidth"] - math.floor(half + 0.5) / 100) < 1e-9


# ---------------------------------------------------------------------------
# corpus-shape wave


def _docs():
    return _sql(
        "SELECT doc_id, source, text, n_chars"
        " FROM '{SF}/documents.parquet' ORDER BY doc_id"
    )


def test_heaps_dyadic_vocab_growth_brute(spark):
    per_src: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for doc_id, source, text, _n in _docs():
        per_src[source].append((doc_id, text))
    want = {}
    for source, docs in per_src.items():
        seen: set[str] = set()
        cn = cv = 0
        pts = []
        rn = 0
        for _did, text in sorted(docs):
            sh = _shingles3(text)
            if not sh:
                # the query numbers only shingle-bearing docs (<3-token
                # docs never enter dsh/cum in either engine) — the
                # brute replay must mirror that, or the dyadic
                # checkpoints drift on short-doc fixtures (ADVICE r15)
                continue
            rn += 1
            cn += len(sh)
            for g in sh:
                if g not in seen:
                    seen.add(g)
                    cv += 1
            if rn & (rn - 1) == 0 and cn > 0 and cv > 0:
                pts.append((cn.bit_length() - 1, cv.bit_length() - 1))
        nb = len(pts)
        sx = sum(x for x, _ in pts)
        sxx = sum(x * x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        den = nb * sxx - sx * sx
        num = nb * sxy - sx * sy
        slope = (
            None
            if den <= 0
            else (
                (num * 1000) // den
                if num >= 0
                else -((-num * 1000) // den)
            )
        )
        want[source] = (nb, cn, cv, slope)
    got = _run(spark, "heaps_dyadic_vocab_growth")
    for row in got.itertuples():
        nb, cn, cv, slope = want[row.source]
        assert row.n_checkpoints == nb
        assert row.total_shingles == cn
        assert row.vocab_types == cv
        got_slope = (
            None if row.heaps_beta_milli is None or (
                isinstance(row.heaps_beta_milli, float)
                and math.isnan(row.heaps_beta_milli)
            ) else int(row.heaps_beta_milli)
        )
        assert got_slope == slope
    assert set(got["source"]) == set(want)


def test_chi_square_homogeneity_brute(spark):
    counts: dict[str, Counter] = defaultdict(Counter)
    totals: Counter = Counter()
    for _did, source, text, _n in _docs():
        toks = [t for t in __import__("re").split(r"\s+", text) if t]
        counts[source].update(toks)
        totals[source] += len(toks)
    (sa, na), (sb, nb) = sorted(
        totals.items(), key=lambda kv: (-kv[1], kv[0])
    )[:2]
    ntot = na + nb
    vocab = set(counts[sa]) | set(counts[sb])
    chi2 = 0
    for w in vocab:
        ca, cb = counts[sa][w], counts[sb][w]
        rw = ca + cb
        for c, nside in ((ca, na), (cb, nb)):
            d = c * ntot - rw * nside
            chi2 += (d * d * 1000000) // (rw * nside * ntot)
    got = _run(spark, "chi_square_homogeneity_sources").iloc[0]
    assert got["source_a"] == sa and got["source_b"] == sb
    assert got["n_a"] == na and got["n_b"] == nb
    assert got["n_types"] == len(vocab)
    assert got["chi2_micro"] == chi2


def test_source_shingle_overlap_brute(spark):
    sets: dict[str, set] = defaultdict(set)
    for _did, source, text, _n in _docs():
        sets[source].update(_shingles3(text))
    got = _run(spark, "source_shingle_overlap_jaccard")
    srcs = sorted(sets)
    expected_pairs = [
        (a, b)
        for i, a in enumerate(srcs)
        for b in srcs[i + 1 :]
        if sets[a] & sets[b]
    ]
    assert (
        list(zip(got["source_a"], got["source_b"])) == expected_pairs
    )
    for row in got.itertuples():
        A, B = sets[row.source_a], sets[row.source_b]
        inter = len(A & B)
        assert row.n_a == len(A) and row.n_b == len(B)
        assert row.n_common == inter
        assert row.jaccard_ppm == (inter * 1000000) // (
            len(A) + len(B) - inter
        )


def test_split_ngram_coverage_brute(spark):
    train: set[str] = set()
    val: dict[str, set] = defaultdict(set)
    for did, source, text, _n in _docs():
        bucket = int(_md5(str(did))[:8], 16) % 10
        for g in _shingles3(text):
            if bucket < 8:
                train.add(g)
            else:
                val[source].add(g)
    got = _run(spark, "split_ngram_coverage")
    assert set(got["source"]) == set(val)
    for row in got.itertuples():
        vg = val[row.source]
        cov = len(vg & train)
        assert row.n_val_grams == len(vg)
        assert row.n_covered == cov
        assert row.coverage_ppm == (cov * 1000000) // len(vg)


def test_source_doc_cap_brute(spark):
    per_src: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for did, source, _t, n_chars in _docs():
        per_src[source].append((n_chars, did))
    got = _run(spark, "source_doc_cap_filter")
    for row in got.itertuples():
        docs = sorted(
            per_src[row.source], key=lambda t: (-t[0], t[1])
        )
        kept = docs[:50]
        assert row.n_docs == len(docs)
        assert row.n_kept == len(kept)
        assert row.n_dropped == len(docs) - len(kept)
        assert row.kept_chars == sum(c for c, _ in kept)
        assert row.total_chars == sum(c for c, _ in docs)


def test_dedup_threshold_sweep_monotone(spark):
    """Sweep invariants: counts non-increasing in the threshold, the
    0.5 row equals the tuned pair table's own footprint, and n_docs
    never exceeds 2*n_pairs."""
    got = _run(spark, "dedup_threshold_sweep").sort_values(
        "threshold_milli"
    )
    pairs = list(got["n_pairs"])
    docs = list(got["n_docs"])
    assert list(got["threshold_milli"]) == [500, 600, 700, 800, 900]
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)
    for p, d in zip(pairs, docs):
        assert d <= 2 * p
    from spark_lever_spark.llm.dedup import (
        lsh_candidate_pairs,
        tune_lsh_banding,
    )
    from spark_lever_spark.catalog import load_table

    docs_df = load_table(spark, SF, "documents")
    b, _r = tune_lsh_banding(docs_df)
    base = lsh_candidate_pairs(docs_df, bands=b).filter(
        "est_jaccard >= 0.5"
    )
    assert pairs[0] == base.count()
