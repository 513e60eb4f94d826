"""t2-style correctness: every registered query with an oracle must
hash-match DuckDB at sf0.001 (fast) — the driver re-runs the same
contract at sf0.01. Rows-only queries are smoke-checked for schema
stability and >=0 rows.

The frame each test builds is also audited:

- every query leaves no new entry in the temp directory and no active
  streaming query, and a streaming query leaves no new temp view;
- every query leaves no pin its returned frame does not read: no RDD
  it added to the context's persistent set that no ``LogicalRDD`` of
  the frame's plan reads, and no CacheManager entry;
- every batch query's plan (streaming queries run a drain to build
  theirs) is checked for the scale hazards in ``tests/plans.py``: no
  single-partition funnel over raw rows, no nested-loop join over raw
  rows unless whitelisted below, and a file scan unless the query is
  declared pinned below.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

import pytest

from spark_lever_spark import registry
from tests.plans import (
    PinAudit,
    has_file_scan,
    nested_loop_hazards,
    single_partition_scale_hazards,
)
from tests.oracle import compare

ALL = registry.all_queries()
WITH_ORACLE = sorted(n for n, q in ALL.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in ALL.items() if not q.oracle)
STREAMING = {
    n for n, q in ALL.items() if q.fn.__module__ == "spark_lever_spark.streaming.queries"
}

# The ONLY queries allowed to carry a nested-loop join over raw
# (non-aggregate-derived) inputs, each with a bounded side by
# construction; anything new that degrades to a nested loop fails its
# oracle test.
NESTED_LOOP_WHITELIST = {
    "join_cartesian": "deliberate cartesian parity query (25 x 5 dims)",
    "join_theta_nonequi": "deliberate theta-join parity over bounded dims",
    "knn_cosine_topk": "broadcast 1-row query vector (vec_id = 0 probe)",
    "ann_ivf_nprobe_recall_curve": (
        "broadcast FIXED 20-row query panel for the brute ground-truth "
        "pass — Q is a query constant at any SF, so the Q x N map-side "
        "probe stays linear in the corpus; centroid ranking rides the "
        "same panel broadcast"
    ),
    "kmeans_assign_embeddings": (
        "broadcast k=8 fixed centroid table — every vector probes "
        "exactly 8 rows map-side, a query constant at any SF"
    ),
    "kmeans_inertia_elbow": (
        "broadcast k=16 fixed centroid table (vec_id < 16) — every "
        "vector probes exactly 16 rows map-side, a query constant at "
        "any SF"
    ),
    "kmeans_lloyd_refine_embeddings": (
        "broadcast k=8 centroid table per Lloyd iteration (init = "
        "vec_id < 8 prefix; refined = 8-row aggregate stats) — every "
        "vector probes exactly 8 rows map-side, a query constant at "
        "any SF"
    ),
    "mutual_nn_int8_ivf": (
        "broadcast k = max(16, sqrt(N)) prefix-centroid table for IVF "
        "probe assignment — N*k = O(N^1.5) map-side probes; candidate "
        "pairs themselves meet through the cell equi-join"
    ),
    "semdedup_int8_cells": (
        "broadcast k = max(16, sqrt(N)) prefix-centroid table for IVF "
        "cell assignment — N*k = O(N^1.5) map-side probes; duplicate "
        "pairs themselves meet through the cell equi-join"
    ),
    "lof_outliers_int8_cells": (
        "the kNN table is localCheckpointed, then the quantized-table "
        "persist is released"
    ),
    "ann_ivf": "broadcast probe vector + centroid cells",
    "ann_pq_adc_topk": (
        "broadcast 1-row quantized query vector (vec_id = 0) for the "
        "exact-distance rider column only — the ADC scoring path "
        "itself probes the 32-row broadcast LUT through an equi-join"
    ),
    "ann_int8_exact_topk": "broadcast 1-row quantized query vector",
    "hard_negative_mining": "broadcast bounded probe batch (vec_id < 50)",
    "embedding_decontaminate_int8": (
        "broadcast bounded benchmark suite (vec_id % 50 == 0, <= 2000 — "
        "fixed-size by construction at every SF)"
    ),
    "tiered_rate_lookup_join": (
        "broadcast 4-row literal tier table — the banded-rate lookup "
        "dim; each fact row probes <= 4 bands map-side"
    ),
    "hodges_lehmann_daily_value": (
        "broadcast calendar-bounded daily aggregate (~2.6k rows at "
        "ANY fact SF) self-joined d2 >= d1 to enumerate Walsh pairs — "
        "the pair blow-up is quadratic in the DAY domain only, a "
        "query constant like the km life table's bucket domain"
    ),
}


# Queries whose inspected plan reaches no file scan: they compute
# eagerly (localCheckpoint, createDataFrame of driver results) or read
# an eagerly pinned input, so the plan is a bare LogicalRDD/ExistingRDD
# and the two hazard checks cannot see the work below it.  Each entry
# says why the query pins; a query that newly pins (or stops pinning)
# fails its oracle test instead of passing both checks unseen.
PINNED_PLANS = {
    "bfs_hops_copurchase": (
        "BFS frontier over the localCheckpointed symmetric co-purchase "
        "edges"
    ),
    "bitmap_rollup_daily_to_monthly": (
        "eager pin of the month-grain rollup, then the daily bitmap persist"
        " is released"
    ),
    "bpe_learn_merges": (
        "the single-task merge kernel's output is eagerly localCheckpointed"
        " (the distributed loop returns its merges via createDataFrame)"
    ),
    "clustering_coefficient_copurchase": "reads the checkpointed copurchase_edges",
    "cross_source_duplication_matrix": (
        "eager pin (<= source-domain² rows), then the LSH signature persist"
        " is released"
    ),
    "dbscan_box_clusters_errors": (
        "eager pin of the cluster-count-sized result, then the neighbour "
        "and core persists are released"
    ),
    "decision_stump_returns": (
        "eager pin of the stump result, then the point and score persists "
        "are released"
    ),
    "dedup_minhash_clusters": (
        "connected_components over the eagerly pinned dedup_minhash_lsh "
        "pairs"
    ),
    "dedup_minhash_lsh": (
        "eager pin, then the minhash signature persist is released"
    ),
    "dedup_minhash_lsh_tuned": (
        "eager pin, then the minhash signature persist is released"
    ),
    "dedup_shingle_containment": (
        "eager pin, then the shingle and token persists are released"
    ),
    "dedup_threshold_sweep": (
        "eager pin (5 rows), then the LSH signature persist is released"
    ),
    "diameter_double_sweep_copurchase": (
        "two BFS sweeps driven from the driver; the result row comes back "
        "via createDataFrame"
    ),
    "edge_triangle_support_copurchase": "reads the checkpointed copurchase_edges",
    "embedding_top_pc_power_iteration": (
        "power-iteration vector is localCheckpointed each round"
    ),
    "er_lsh_blocking_audit": (
        "eager pin (1 row), then the LSH signature persist is released"
    ),
    "greedy_coverage_doc_selection": (
        "driver-side greedy loop; the K picked docs come back via "
        "createDataFrame"
    ),
    "grouped_split_no_leakage": (
        "eager pin (3 rows), then the (user, split) aggregate persist is "
        "released"
    ),
    "harmonic_closeness_sampled_bfs": (
        "sampled BFS over the localCheckpointed symmetric co-purchase edges"
    ),
    "hits_hubs_authorities_purchases": (
        "single-task HITS kernel / per-half-round localCheckpoint of the "
        "score vectors"
    ),
    "hodges_lehmann_daily_value": (
        "eager pin (1 row), then the daily-aggregate persist is released"
    ),
    "isotonic_return_rate_by_price": (
        "cumulative-sum frame is eagerly localCheckpointed before the PAV "
        "pass"
    ),
    "kcore_peel_copurchase": (
        "per-round localCheckpoint of the peeled edge set (plan growth "
        "otherwise OOMs the driver)"
    ),
    "kmeans_lloyd_refine_embeddings": (
        "eager pin of the k-row result, then the quantized and assignment "
        "caches are released"
    ),
    "ktruss_3_copurchase": (
        "iterative edge peel; the per-round edge counts come back via "
        "createDataFrame"
    ),
    "lever_plan_proportion": (
        "the Lever plan is computed on the driver and returned via "
        "createDataFrame"
    ),
    "lincoln_petersen_dedup_estimate": (
        "eager pin, then the paragraph and shingle persists are released"
    ),
    "link_prediction_common_neighbors": "reads the checkpointed copurchase_edges",
    "link_prediction_pref_attachment": "reads the checkpointed copurchase_edges",
    "link_prediction_resource_allocation": (
        "reads the checkpointed copurchase_edges"
    ),
    "lof_outliers_int8_cells": (
        "kNN table is localCheckpointed, then the quantized-table persist "
        "is released"
    ),
    "lpa_communities_copurchase": (
        "per-round localCheckpoint of the label vector"
    ),
    "mad_outlier_order_values": (
        "eager pin, then the value and deviation persists are released"
    ),
    "mutual_nn_int8_ivf": (
        "eager pin of the nearest-neighbour table, then the quantized-table"
        " persist is released"
    ),
    "pagerank_copurchase": "per-round localCheckpoint of the rank vector",
    "personalized_pagerank_copurchase": (
        "per-round localCheckpoint of the rank vector"
    ),
    "recursive_cte_dup_chains": (
        "recursive chain expansion, eagerly localCheckpointed"
    ),
    "rich_club_coefficient_copurchase": "reads the checkpointed copurchase_edges",
    "triangle_count_copurchase": "reads the checkpointed copurchase_edges",
}

# Files the JVM extracts once per process, whichever query first needs them.
_NATIVE_LIBS = ("liblz4-java-", "snappy-", "artifacts-")


def _temp_entries() -> set[str]:
    # the test session's own temp directory (conftest.TMP), shared by
    # Python and the JVM and by no other process on the host
    return {
        e for e in os.listdir(tempfile.gettempdir()) if not e.startswith(_NATIVE_LIBS)
    }


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@contextmanager
def _leaves_nothing(spark, name):
    """Fail if the block leaves a temp-directory entry, an active
    streaming query, a temp view or a pin its frame does not read
    behind. The block passes the frame it built through the callable it
    is given."""
    entries = _temp_entries()
    views = _temp_views(spark)
    pins = PinAudit(spark)
    frames = []

    def returned(df):
        frames.append(df)
        return df

    yield returned
    stray = pins.stray(*frames)
    assert not stray, f"{name} left {stray} pinned that its frame does not read"
    left = _temp_entries() - entries
    assert not left, f"{name} left {sorted(left)} in the temp directory"
    assert not spark.streams.active, f"{name} left a streaming query running"
    left = _temp_views(spark) - views
    assert not left, f"{name} left temp views {sorted(left)}"


def _check_plan(name, df):
    """The plan-hazard checks for a batch query's built frame."""
    if name in STREAMING:
        return
    assert has_file_scan(df) == (name not in PINNED_PLANS), (
        f"{name}: " + ("newly pinned" if name not in PINNED_PLANS else "no longer pinned")
    )
    hazards = single_partition_scale_hazards(df)
    assert not hazards, (name, hazards)
    if name not in NESTED_LOOP_WHITELIST:
        hazards = nested_loop_hazards(df)
        assert not hazards, (name, hazards)


def test_plan_exemptions_name_batch_queries():
    batch = set(ALL) - STREAMING
    assert set(PINNED_PLANS) <= batch, sorted(set(PINNED_PLANS) - batch)
    assert set(NESTED_LOOP_WHITELIST) <= batch, sorted(
        set(NESTED_LOOP_WHITELIST) - batch
    )


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, oracle_con, name):
    with _leaves_nothing(spark, name) as returned:
        df = returned(ALL[name].fn(spark, sf_dir))
        _check_plan(name, df)
        compare(df, oracle_con.execute(ALL[name].oracle).df(), name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    with _leaves_nothing(spark, name) as returned:
        df = returned(ALL[name].fn(spark, sf_dir))
        _check_plan(name, df)
        rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
