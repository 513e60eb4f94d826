"""As-of and bucketed range joins (operators/temporal.py) against
independent references: pandas.merge_asof for as-of semantics, a
naive O(n*m) Python double loop for the interval join."""

from __future__ import annotations

import random

import pandas as pd

from spark_lever_spark.operators.temporal import asof_join, range_join_bucketed


def _random_frames(seed):
    rng = random.Random(seed)
    left = [
        (rng.randrange(4), float(rng.randrange(0, 1000)), i)
        for i in range(120)
    ]
    # unique (key, t) on the right — the determinism precondition
    right_keys = {(rng.randrange(4), float(rng.randrange(0, 1000))) for _ in range(80)}
    right = [(k, t, 1000 + j) for j, (k, t) in enumerate(sorted(right_keys))]
    return left, right


def _pandas_asof(left, right):
    lpd = pd.DataFrame(left, columns=["k", "t", "lid"]).sort_values("t", kind="stable")
    rpd = pd.DataFrame(right, columns=["k", "rt", "rid"]).sort_values("rt", kind="stable")
    merged = pd.merge_asof(
        lpd,
        rpd,
        left_on="t",
        right_on="rt",
        by="k",
        direction="backward",
    )
    return {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in merged.itertuples()
    }


def test_asof_join_matches_pandas_merge_asof(spark):
    left, right = _random_frames(7)
    ldf = spark.createDataFrame(left, ["k", "t", "lid"])
    rdf = spark.createDataFrame(right, ["k", "rt", "rid"])
    got = asof_join(
        ldf, rdf, by=["k"], left_on="t", right_on="rt", value_cols=["rt", "rid"]
    ).collect()
    assert {r.lid: r.rid for r in got} == _pandas_asof(left, right)


def test_asof_join_null_right_value_does_not_bleed_older_row(spark):
    # right row at t=20 has a NULL payload; the t=30 left row must see
    # that NULL, not the non-null payload of the older t=10 row
    ldf = spark.createDataFrame([(1, 30.0, 0)], ["k", "t", "lid"])
    rdf = spark.createDataFrame(
        [(1, 10.0, "old"), (1, 20.0, None)], ["k", "rt", "payload"]
    )
    row = asof_join(
        ldf, rdf, by=["k"], left_on="t", right_on="rt",
        value_cols=["rt", "payload"],
    ).collect()[0]
    assert row.rt == 20.0 and row.payload is None


def test_range_join_bucketed_matches_naive(spark):
    rng = random.Random(11)
    left = [(rng.randrange(3), float(rng.randrange(0, 500)), i) for i in range(60)]
    right = [(rng.randrange(3), float(rng.randrange(0, 500)), 1000 + j) for j in range(90)]
    width = 40.0
    ldf = (
        spark.createDataFrame(left, ["k", "t", "lid"])
        .selectExpr("k", "t - 37 AS lo", "t AS hi", "lid")
    )
    rdf = spark.createDataFrame(right, ["k", "rt", "rid"])
    got = {
        (r.lid, r.rid)
        for r in range_join_bucketed(
            ldf, rdf, by=["k"], lo="lo", hi="hi", right_on="rt",
            bucket_width=int(width),
        ).collect()
    }
    want = {
        (lid, rid)
        for (lk, lt, lid) in left
        for (rk, rt, rid) in right
        if lk == rk and lt - 37 <= rt < lt
    }
    assert got == want


def test_asof_join_empty_sides(spark):
    ldf = spark.createDataFrame([(1, 5.0, 0)], ["k", "t", "lid"])
    rdf = spark.createDataFrame([], "k long, rt double, rid long")
    # empty right: left rows survive with null matches
    out = asof_join(ldf, rdf, by=["k"], left_on="t", right_on="rt",
                    value_cols=["rt", "rid"]).collect()
    assert len(out) == 1 and out[0].rt is None and out[0].rid is None
    # empty left: empty result, schema intact
    out2 = asof_join(rdf.selectExpr("k", "rt as t", "rid as lid"), ldf.selectExpr("k", "t as rt", "lid as rid"),
                     by=["k"], left_on="t", right_on="rt",
                     value_cols=["rt", "rid"])
    assert out2.count() == 0
    assert set(out2.columns) == {"k", "t", "lid", "rt", "rid"}


def test_range_join_bucketed_empty_right(spark):
    ldf = spark.createDataFrame([(1, 0.0, 10.0, 7)], ["k", "lo", "hi", "lid"])
    rdf = spark.createDataFrame([], "k long, rt double, rid long")
    assert range_join_bucketed(
        ldf, rdf, by=["k"], lo="lo", hi="hi", right_on="rt", bucket_width=5
    ).count() == 0


def _fifo_simulate(buys, sells):
    """Sequential reference FIFO matcher: buys/sells are
    time-ordered (id, qty) lists; returns {(buy_id, sell_id): qty}."""
    out = {}
    bi, avail = 0, None
    lots = [[bid, q] for bid, q in buys]
    for sid, want in sells:
        while want > 0 and bi < len(lots):
            take = min(want, lots[bi][1])
            if take > 0:
                out[(lots[bi][0], sid)] = take
                lots[bi][1] -= take
                want -= take
            if lots[bi][1] == 0:
                bi += 1
        # unmet demand simply goes unmatched
    return out


def test_fifo_match_equals_sequential_simulator(spark):
    """Property contract of fifo_match (hypothesis over random
    multi-user buy/sell sequences): the distributed cumulative-interval
    band join must EQUAL a sequential per-user FIFO simulator exactly,
    which implies the conservation laws (per-lot and per-sell matched
    totals never exceed their quantities; per-user total matched =
    min(supply, demand))."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_lever_spark.operators.temporal import fifo_match

    qty = st.integers(min_value=1, max_value=50)
    seq = st.lists(qty, min_size=0, max_size=6)

    @given(st.lists(st.tuples(seq, seq), min_size=1, max_size=3))
    @settings(max_examples=8, deadline=None)
    def run(users):
        base = dt.datetime(2026, 1, 1)
        brows, srows, expected = [], [], {}
        next_id = 0
        for u, (bq, sq) in enumerate(users):
            buys = []
            for i, q in enumerate(bq):
                buys.append((next_id, q))
                brows.append((u, next_id, base + dt.timedelta(minutes=i), q))
                next_id += 1
            sells = []
            for i, q in enumerate(sq):
                sells.append((next_id, q))
                srows.append((u, next_id, base + dt.timedelta(minutes=i), q))
                next_id += 1
            expected.update(_fifo_simulate(buys, sells))
        schema = "user_id long, id long, ts timestamp, qty long"
        bdf = spark.createDataFrame(
            brows or [(0, 0, base, 1)], schema
        )
        sdf = spark.createDataFrame(srows or [], schema)
        if not brows:
            bdf = bdf.limit(0)
        got = {
            (r.buy_id, r.sell_id): r.matched_qty
            for r in fifo_match(bdf, sdf).collect()
        }
        assert got == expected, (got, expected)
        # conservation re-stated explicitly (redundant with equality,
        # kept as the named law)
        per_user_supply = {
            u: sum(bq) for u, (bq, _s) in enumerate(users)
        }
        per_user_demand = {
            u: sum(sq) for u, (_b, sq) in enumerate(users)
        }
        matched_by_user: dict[int, int] = {}
        id_owner = {r[1]: r[0] for r in brows}
        for (bid, _sid), q in got.items():
            matched_by_user[id_owner[bid]] = (
                matched_by_user.get(id_owner[bid], 0) + q
            )
        for u in per_user_supply:
            assert matched_by_user.get(u, 0) == min(
                per_user_supply[u], per_user_demand[u]
            )

    run()


def test_fifo_match_whale_key_not_quadratic(spark):
    """Whale-key contract: ONE user with 10^4
    lots and 10^4 sells. The pre-round-9 form (bare key equi-join,
    interval predicate as a post-join filter) enumerated n_buys x
    n_sells = 10^8 candidates for this input; the per-key grid join
    enumerates O(n + output). The test pins exact equality with the
    sequential simulator at whale scale and a wall-clock ceiling far
    below what the quadratic form needs."""
    import datetime as dt
    import time

    from spark_lever_spark.operators.temporal import fifo_match

    n = 10_000
    base = dt.datetime(2026, 1, 1)
    # varied quantities so intervals straddle grid-cell boundaries
    # (the multi-cell + first-overlap-cell dedup paths both execute)
    buys = [(i, 1 + (i % 3)) for i in range(n)]
    sells = [(n + i, 1 + ((i * 7) % 4)) for i in range(n)]
    brows = [
        (0, bid, base + dt.timedelta(seconds=i), q)
        for i, (bid, q) in enumerate(buys)
    ]
    srows = [
        (0, sid, base + dt.timedelta(seconds=i), q)
        for i, (sid, q) in enumerate(sells)
    ]
    schema = "user_id long, id long, ts timestamp, qty long"
    bdf = spark.createDataFrame(brows, schema)
    sdf = spark.createDataFrame(srows, schema)
    t0 = time.perf_counter()
    got = {
        (r.buy_id, r.sell_id): r.matched_qty
        for r in fifo_match(bdf, sdf).collect()
    }
    elapsed = time.perf_counter() - t0
    expected = _fifo_simulate(buys, sells)
    assert got == expected
    assert elapsed < 90, f"whale key took {elapsed:.1f}s — quadratic?"


def test_prorate_largest_remainder_properties(spark):
    """Hypothesis contract of the allocation core: per-key alloc sums
    to the amount EXACTLY; every alloc is within 1 unit of the ideal
    fractional share (the largest-remainder guarantee); equal weights
    get allocations differing by at most 1; matches a pure-python
    reference allocator bit-for-bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_lever_spark.operators.alloc import prorate_largest_remainder

    def py_allocate(amount, weights):
        tot = sum(weights)
        floors = [amount * w // tot for w in weights]
        rems = [amount * w % tot for w in weights]
        left = amount - sum(floors)
        order = sorted(range(len(weights)), key=lambda i: (-rems[i], i))
        out = list(floors)
        for i in order[:left]:
            out[i] += 1
        return out

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),  # amount
                st.lists(
                    st.integers(min_value=1, max_value=1000),
                    min_size=1,
                    max_size=7,
                ),
            ),
            min_size=1,
            max_size=3,
        )
    )
    @settings(max_examples=8, deadline=None)
    def run(groups):
        rows, expected = [], {}
        for k, (amount, weights) in enumerate(groups):
            ref = py_allocate(amount, weights)
            for i, w in enumerate(weights):
                rows.append((k, i, w, amount))
                expected[(k, i)] = ref[i]
        df = spark.createDataFrame(
            rows, "k long, ord long, w long, amount long"
        )
        out = prorate_largest_remainder(df, "k", "w", "amount", "ord")
        got = {(r.k, r.ord): r.alloc for r in out.collect()}
        assert got == expected, (got, expected)
        for k, (amount, weights) in enumerate(groups):
            allocs = [got[(k, i)] for i in range(len(weights))]
            assert sum(allocs) == amount
            tot = sum(weights)
            for a, w in zip(allocs, weights):
                ideal = amount * w / tot
                assert ideal - 1 < a < ideal + 1

    run()


def test_grid_join_equals_brute_force(spark):
    """Hypothesis contract of the 2D grid-cell join pattern
    (grid_join_value_time_neighbors): for random point sets —
    including exact cell-boundary values, the place grid joins break —
    the 3x3-neighborhood equi-join must find EXACTLY the brute-force
    pair set for |dt| <= 300 s and |dv| <= 1.0."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    secs = st.integers(min_value=0, max_value=1800)
    # values snapped to quarters so exact cell-edge hits (x.0) occur
    vals = st.integers(min_value=-8, max_value=8).map(lambda q: q / 4.0)

    @given(st.lists(st.tuples(secs, vals), min_size=2, max_size=12))
    @settings(max_examples=10, deadline=None)
    def run(points):
        rows = [(i, s, v) for i, (s, v) in enumerate(points)]
        df = spark.createDataFrame(rows, "id long, s long, v double")
        tc = (F.col("s") / 300).cast("long")
        vc = F.floor(F.col("v") / 1.0).cast("long")
        a = df.select(
            F.col("id").alias("ia"),
            F.col("s").alias("sa"),
            F.col("v").alias("va"),
            F.explode(
                F.array(
                    *[
                        F.struct((tc + dt).alias("tc"), (vc + dv).alias("vc"))
                        for dt in (-1, 0, 1)
                        for dv in (-1, 0, 1)
                    ]
                )
            ).alias("cell"),
        )
        b = df.select(
            F.col("id").alias("ib"),
            F.col("s").alias("sb"),
            F.col("v").alias("vb"),
            F.struct(tc.alias("tc"), vc.alias("vc")).alias("cell"),
        )
        got = {
            (r.ia, r.ib)
            for r in a.join(b, "cell")
            .filter(
                (F.col("ia") < F.col("ib"))
                & (F.abs(F.col("sb") - F.col("sa")) <= 300)
                & (F.abs(F.col("vb") - F.col("va")) <= 1.0)
            )
            .collect()
        }
        brute = {
            (i, j)
            for (i, (si, vi)), (j, (sj, vj)) in itertools.combinations(
                enumerate(points), 2
            )
            if abs(sj - si) <= 300 and abs(vj - vi) <= 1.0
        }
        assert got == brute, (got ^ brute)

    run()
