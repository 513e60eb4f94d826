"""Bloom runtime-filter invariants (operators/bloom.py).

The correctness contract is one-sided: the prune may pass extra rows
(false positives — removed by the exact join that follows) but must
NEVER drop a matching row (false negatives would corrupt the result
silently). Both sides are pinned here, plus the degenerate empty-key
case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.operators.bloom import bloom_bitmap, bloom_prune


def test_bloom_no_false_negatives_and_bounded_fpp(spark, sf_dir):
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    pruned = bloom_prune(li, "l_orderkey", bloom_bitmap(urgent, "o_orderkey"))

    exact_keys = {r.o_orderkey for r in urgent.collect()}
    survivor_keys = {r.l_orderkey for r in pruned.collect()}
    all_keys = {r.l_orderkey for r in li.collect()}

    # every true match survives
    assert (all_keys & exact_keys) <= survivor_keys
    # false positives exist only among non-matching keys, and few of
    # them: m/n here is ~100 bits/key, so FPP is well under 1 %
    false_pos = survivor_keys - exact_keys
    non_match = all_keys - exact_keys
    assert len(false_pos) <= max(1, len(non_match) // 100)


def test_bloom_empty_keys_prunes_everything(spark, sf_dir):
    empty = (
        load_table(spark, sf_dir, "orders")
        .filter(F.lit(False))
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    pruned = bloom_prune(li, "l_orderkey", bloom_bitmap(empty, "o_orderkey"))
    assert pruned.count() == 0


def test_bloom_never_false_negative_property(spark):
    """Property: for ANY key set and probe set, every probe key that is
    in the key set survives the prune (Bloom filters may false-positive
    but must never false-negative — the one-sided error the exact
    verify join relies on)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        keys=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=60),
        probes=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=60),
    )
    def check(keys, probes):
        kdf = spark.createDataFrame([(k,) for k in keys], "k long")
        pdf = spark.createDataFrame([(p,) for p in probes], "k long")
        survivors = {
            r.k
            for r in bloom_prune(pdf, "k", bloom_bitmap(kdf, "k")).collect()
        }
        assert (set(probes) & set(keys)) <= survivors

    check()
