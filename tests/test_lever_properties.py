"""Property-based invariants for the Lever controller math (the
reference shipped zero tests for this logic — SURVEY.md §5.7 — so
beyond the example-based tests we pin the algebraic contracts that must
hold for ANY metric trace)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from spark_lever_spark.lever.actuator import (
    partition_counts,
    partition_tokens,
    spark_hash_int,
)
from spark_lever_spark.lever.capability import estimate_capability
from spark_lever_spark.lever.classifier import (
    Classification,
    classify_quartiles,
    confirm_with_rates,
)
from spark_lever_spark.lever import strategies as S

hosts = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=3),
    min_size=2,
    max_size=8,
    unique=True,
)
pos = st.floats(min_value=1.0, max_value=1e6, allow_nan=False)


@given(hosts, st.data())
@settings(max_examples=60, deadline=None)
def test_partition_counts_exact_and_positive(hs, data):
    weights = {h: data.draw(pos) for h in hs}
    total = data.draw(st.integers(min_value=len(hs), max_value=256))
    counts = partition_counts(weights, total)
    assert sum(counts.values()) == total
    assert all(c >= 1 for c in counts.values())
    # monotone: a host with larger weight never gets fewer partitions
    ordered = sorted(hs, key=lambda h: weights[h])
    for a, b in zip(ordered, ordered[1:]):
        assert counts[a] <= counts[b] + 1  # ties may round either way


@given(st.integers(min_value=1, max_value=512))
@settings(max_examples=60, deadline=None)
def test_partition_tokens_map_bucket_j_to_partition_j(P):
    """Token j hashes to partition j (a bijection from bucket to
    partition) and is the smallest int >= 0 that does."""
    tokens = partition_tokens(P)
    parts = [spark_hash_int(t) % P for t in range(max(tokens) + 1)]
    assert [parts[t] for t in tokens] == list(range(P))
    assert tokens == [parts.index(j) for j in range(P)]


@given(hosts, st.data())
@settings(max_examples=60, deadline=None)
def test_classifier_partitions_all_hosts(hs, data):
    runtimes = {h: data.draw(pos) for h in hs}
    c = classify_quartiles(runtimes, 600.0)
    assert c.helpee | c.median | c.helper == set(hs)
    # ordering guarantees only hold for a non-degenerate spread — the
    # balancer never classifies below its 300 ms trigger anyway
    if len(set(runtimes.values())) == len(runtimes):
        assert not (c.helpee & c.helper)
        slowest = max(hs, key=lambda h: runtimes[h])
        fastest = min(hs, key=lambda h: runtimes[h])
        assert slowest not in c.helper
        assert fastest not in c.helpee


@given(hosts, st.data())
@settings(max_examples=60, deadline=None)
def test_every_strategy_emits_normalized_shares(hs, data):
    if len(hs) < 3:
        return
    helpee = {hs[0]}
    helpers = set(hs[1:])
    cap = {h: data.draw(pos) for h in hs}
    load = {h: data.draw(pos) for h in hs}
    for build in (S.proportion_plan, S.two_choice_plan):
        plan = build(helpee, helpers, cap, load)
        for h, shares in plan.ratios.items():
            assert math.isclose(sum(shares.values()), 1.0, rel_tol=1e-9)
            assert all(s >= 0 for s in shares.values())
            assert set(shares) <= helpers | {h}


@given(hosts, st.data())
@settings(max_examples=60, deadline=None)
def test_capability_positive_for_sane_traces(hs, data):
    handled = {h: data.draw(pos) for h in hs}
    # runtimes within a 2x band: the linear extrapolation stays positive
    runtime = {h: data.draw(st.floats(min_value=1000.0, max_value=2000.0)) for h in hs}
    cap = estimate_capability(handled, runtime)
    assert set(cap) == set(hs)
    assert all(v > 0 for v in cap.values())


rate = st.one_of(st.none(), st.floats(min_value=0.0, max_value=1e6, allow_nan=False))
ratio = st.floats(min_value=1.0, max_value=100.0, allow_nan=False)


@given(hosts, st.data())
@settings(max_examples=200, deadline=None)
def test_confirmation_partitions_all_hosts(hs, data):
    """Every host lands in exactly one confirmed set, whatever its rate
    drift and whether it was last round's helper."""
    potential = Classification(
        a_median_to_helper=data.draw(ratio), b_helpee_to_median=data.draw(ratio)
    )
    for h in hs:
        data.draw(st.sampled_from([potential.helpee, potential.median, potential.helper])).add(h)
    old_rates = {h: r for h in hs if (r := data.draw(rate)) is not None}
    new_rates = {h: r for h in hs if (r := data.draw(rate)) is not None}
    last_helper = {h for h in hs if data.draw(st.booleans())}
    final = confirm_with_rates(potential, old_rates, new_rates, last_helper)
    assert final.helpee | final.median | final.helper == set(hs)
    assert len(final.helpee) + len(final.median) + len(final.helper) == len(hs)
