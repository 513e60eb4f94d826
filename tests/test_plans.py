"""Plan-shape contracts (SURVEY.md §4): the properties that keep the
headline queries viable at 100 TB, pinned as tests so a refactor that
silently un-pushes a filter or turns a broadcast join into a shuffle
join fails CI — this is the engine's substitute for re-implementing the
reference's physical layer."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from spark_lever_spark import registry
from tests.plans import (
    broadcast_join_count,
    exchange_count,
    nested_loop_join_count,
    pushed_filters,
    scan_read_schema,
    shuffle_join_count,
    wholestage_codegen_count,
)

ALL = registry.all_queries()


def test_scan_project_filter_pushdown(spark, sf_dir):
    df = ALL["scan_project_filter"].fn(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    # both predicates reach the parquet row-group filter
    assert "l_quantity" in pushed and "l_returnflag" in pushed
    # column pruning: scan reads only the 6 referenced columns
    # (4 projected/derived + 2 filter-only), not all 16 of lineitem
    (cols,) = scan_read_schema(df)
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
    }


def test_q1_column_pruning_and_single_shuffle(spark, sf_dir):
    df = ALL["q1_pricing_summary"].fn(spark, sf_dir)
    (cols,) = scan_read_schema(df)
    # 7 columns feed Q1; the other 9 lineitem columns must not be read
    assert len(cols) <= 7
    # partial agg -> one shuffle for the group-by, one for the sort
    assert exchange_count(df) <= 2


def test_broadcast_dim_join_is_broadcast(spark, sf_dir):
    df = ALL["join_broadcast_dim"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert shuffle_join_count(df) == 0


def test_q5_broadcasts_constant_dims(spark, sf_dir):
    """region/nation are constant-size at every SF — they must never
    arrive via shuffle."""
    df = ALL["q5_local_supplier_volume"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_aggregation_runs_in_codegen(spark, sf_dir):
    df = ALL["q6_forecast_revenue"].fn(spark, sf_dir)
    assert wholestage_codegen_count(df) >= 1
    # Q6 is scan->filter->agg: no join, at most the final single-row agg
    assert shuffle_join_count(df) == 0


def test_dedup_exact_single_shuffle(spark, sf_dir):
    """Exact dedup must be one hash-shuffle on the dedup key (partial
    aggregation map-side), not a global sort."""
    df = ALL["dedup_exact_md5"].fn(spark, sf_dir)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    (at,) = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(fp#" in ln]
    # the final HashAggregate sits right on the one fp-hash exchange...
    assert lines[at - 1].strip().startswith("+- HashAggregate(keys=[fp#")
    # ...and nothing below it sorts (the output orderBy's Sort is above)
    assert not re.search(r"\b(Sort|SortAggregate|Window)\b", "\n".join(lines[at + 1 :]))
    assert exchange_count(df) <= 2


def test_weighted_repartition_single_exchange(spark):
    """The balancer's actuation costs exactly the one shuffle it
    intends to induce — no hidden extra exchange."""
    from spark_lever_spark.lever.actuator import apply_plan

    df = spark.range(0, 1000)
    out = apply_plan(spark, df, {"a": 0.5, "b": 0.5}, 4)
    assert exchange_count(out) == 1


def test_filter_pushdown_through_streaming_helpers(spark, sf_dir):
    """Projection/filter composed through catalog.load_table still
    reaches the scan (no wrapper breaks pushdown)."""
    from spark_lever_spark.catalog import load_table

    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    assert any("o_orderstatus" in p for p in pushed_filters(df))
    (cols,) = scan_read_schema(df)
    assert set(cols) <= {"o_orderkey", "o_orderstatus"}


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization: both window passes and the rollup share the
    user_id partitioning -> exactly one exchange plus the final sort."""
    df = ALL["sessionize_events"].fn(spark, sf_dir)
    assert exchange_count(df) <= 2


def test_asof_join_pays_one_data_shuffle(spark, sf_dir):
    # union-and-window as-of: the only data shuffle is the window's
    # hash partition on user_id; the trailing orderBy adds one range
    # exchange for presentation. No join operator at all in the plan.
    df = ALL["asof_purchase_last_view"].fn(spark, sf_dir)
    assert exchange_count(df) <= 2
    assert shuffle_join_count(df) == 0
    from tests.plans import nested_loop_join_count
    assert nested_loop_join_count(df) == 0


def test_range_join_bucketed_avoids_nested_loop(spark, sf_dir):
    # the bucketed rewrite must turn the interval predicate into a
    # hash-joinable equi-key: zero BNL/cartesian operators allowed
    from tests.plans import nested_loop_join_count
    df = ALL["range_join_views_before_purchase"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert broadcast_join_count(df) + shuffle_join_count(df) >= 1


def test_q20_co_partitioned_agg_join(spark, sf_dir):
    # ps and sh96 both aggregate lineitem on (partkey, suppkey); the
    # join between them must reuse that partitioning: 2 agg shuffles +
    # 1 presentation sort, nothing for the join itself
    df = ALL["q20_potential_promotion"].fn(spark, sf_dir)
    assert exchange_count(df) <= 3
    from tests.plans import nested_loop_join_count
    assert nested_loop_join_count(df) == 0


def test_q2_broadcasts_all_dims(spark, sf_dir):
    # supplier/nation/region/filtered-part all arrive broadcast; the
    # only shuffles are the derived-partsupp agg, the window-min's
    # partkey partition, and the final sort
    df = ALL["q2_min_cost_supplier"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 4
    assert exchange_count(df) <= 3


def test_minhash_lsh_band_join_is_equi_hash(spark, sf_dir):
    # the LSH candidate join must be an equi-join on (band_idx,
    # band_digest) — uniformly distributed keys, bucketed by hash — and
    # NEVER a nested-loop/cartesian all-pairs scan. This is the single
    # property that makes minhash dedup 100 TB-viable.
    from spark_lever_spark.catalog import load_table, pin_scope
    from spark_lever_spark.llm.dedup import lsh_candidate_pairs
    from tests.plans import nested_loop_join_count

    # The registered query pins its result eagerly (lineage truncated),
    # so the plan is read on the shared lazy helper instead, in a pin
    # scope that releases the helper's signature pin.
    def check():
        df = lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
        assert nested_loop_join_count(df) == 0
        assert broadcast_join_count(df) + shuffle_join_count(df) >= 1

    pin_scope(check)


def test_cc_half_rounds_are_single_window_shuffles(spark, sf_dir):
    # each large-star/small-star half-round is one hash shuffle on the
    # grouping node (window min) + a distinct — if a refactor introduces
    # a join or extra exchanges, the O(log n)-round cost model breaks
    from spark_lever_spark.llm.graph import _large_star, _small_star
    from tests.plans import nested_loop_join_count

    edges = spark.range(0, 200).selectExpr("id AS u", "id + 1 AS v")
    for half in (_large_star(edges), _small_star(edges)):
        assert nested_loop_join_count(half) == 0
        assert shuffle_join_count(half) == 0
        # window partition + distinct's two-stage agg, nothing else
        assert exchange_count(half) <= 3


def test_llm_blocked_joins_never_cartesian(spark, sf_dir):
    # every blocked similarity/near-dup join must reach Catalyst as an
    # equi-join on its blocking key (token+lang / label / band digest)
    # with the similarity predicate as residual filter — a refactor
    # that degrades any of them to BroadcastNestedLoop/Cartesian would
    # be quadratic at 100 TB
    from tests.plans import nested_loop_join_count
    for name in (
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "similarity_join_blocked",
    ):
        df = ALL[name].fn(spark, sf_dir)
        assert nested_loop_join_count(df) == 0, name


def test_decontaminate_blocklist_broadcasts(spark, sf_dir):
    # the benchmark-gram blocklist is tiny relative to the corpus by
    # construction (eval benchmarks vs training data) — it must reach
    # the probe side as a broadcast hash join so the corpus scan stays
    # map-only; the lone shuffle is the (doc_id, long) groupBy. A
    # refactor that shuffles the corpus grams by hash to meet the
    # blocklist would move the whole 100 TB through the network.
    df = ALL["text_decontaminate"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert broadcast_join_count(df) >= 1


def test_bigram_novelty_lm_join_stays_equi(spark, sf_dir):
    # the held-out-vs-LM join must be an equi-join on the bigram key
    # (broadcast at this scale; shuffled-hash at web scale) — never a
    # nested loop
    df = ALL["text_bigram_novelty"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert broadcast_join_count(df) >= 1


def test_hash_bucket_sample_is_map_only(spark, sf_dir):
    # deterministic sampling is a stateless filter: zero exchanges
    # before the presentation sort — the property that lets it cut a
    # stable slice of a 100 TB corpus without any shuffle
    df = ALL["sample_hash_bucket"].fn(spark, sf_dir)
    assert exchange_count(df) <= 1  # presentation orderBy only


def test_winnow_fingerprints_map_only(spark, sf_dir):
    # winnowing is per-document array work: no joins, no aggregation —
    # nothing but the presentation sort may exchange
    df = ALL["text_fingerprint_winnow"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert shuffle_join_count(df) + broadcast_join_count(df) == 0
    assert exchange_count(df) <= 1


def test_jaccard_prefix_filter_joins_stay_equi(spark, sf_dir):
    # AllPairs prefix filtering adds a df-rank window and two
    # verification joins — all must remain hash equi-joins; the
    # candidate join keys on the prefix token, never an all-pairs scan
    df = ALL["dedup_ngram_jaccard"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert broadcast_join_count(df) + shuffle_join_count(df) >= 3


def test_agg_stats_two_stage_distinct_no_expand(spark, sf_dir):
    # exact count-distinct runs as a pre-dedup aggregate broadcast back
    # onto the moment stats — the inline countDistinct Expand (which
    # doubles every input row before the partial agg) must not return
    df = ALL["agg_stats_full"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert broadcast_join_count(df) >= 1
    assert shuffle_join_count(df) == 0
    # stats agg + dedup distinct + its re-agg + presentation sort
    assert exchange_count(df) <= 4


def test_variant_json_parses_once_and_prunes(spark, sf_dir):
    """The VARIANT query's scale claim: ONE binary-variant extraction
    per row (Catalyst fuses parse_json + variant_get into a single
    direct extraction — no per-aggregate string re-parse), and the scan
    reads only the two referenced columns."""
    df = ALL["expr_variant_json"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("variant_get") == 1
    (cols,) = scan_read_schema(df)
    assert set(cols) == {"event_type", "props"}


def test_bloom_prune_is_map_side(spark, sf_dir):
    """The Bloom runtime filter must cost the fact table ZERO
    exchanges: bitmap arrives by broadcast, probe is a scan-side
    filter, and the exact verify join is broadcast too. The only
    exchanges in the whole plan belong to the bitmap build (tiny key
    side) and the final group-by/sort."""
    df = ALL["bloom_semi_join_prune"].fn(spark, sf_dir)
    # bitmap broadcast (1-row NLJ) + exact semi-join broadcast
    assert broadcast_join_count(df) + nested_loop_join_count(df) >= 2
    assert shuffle_join_count(df) == 0
    # exchanges: bitmap two-level agg (2) + final groupBy (1) + sort (1)
    assert exchange_count(df) <= 4


def test_reservoir_per_key_prunes_before_shuffle(spark, sf_dir):
    """rank<=k must be pushed into a WindowGroupLimit below the
    exchange so each map task ships only k rows per group — the
    difference between shuffling O(k x groups) and the whole table."""
    from tests.plans import formatted_plan

    df = ALL["reservoir_per_key"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert exchange_count(df) <= 2  # group-key shuffle + final sort


def test_scd2_single_data_shuffle(spark, sf_dir):
    """Both SCD2 windows partition by user_id — the second window must
    reuse the first's hash partitioning (one data exchange + the
    presentation sort, nothing more)."""
    df = ALL["scd2_event_type_history"].fn(spark, sf_dir)
    assert exchange_count(df) <= 2


def test_mergeable_rollup_reuses_partials(spark, sf_dir):
    """Daily stats must derive from the hourly layer: two aggregation
    exchanges (hour grain, day grain) + presentation sort; the raw
    events scan happens exactly once."""
    from tests.plans import formatted_plan

    import re

    df = ALL["rollup_hourly_to_daily_mergeable"].fn(spark, sf_dir)
    assert exchange_count(df) <= 3
    # formatted plans print each node twice (tree + detail) — count
    # detail entries only
    assert len(re.findall(r"^\(\d+\) Scan parquet", formatted_plan(df), re.M)) == 1


def test_fuzzy_and_overlap_joins_stay_equi(spark, sf_dir):
    """The record-linkage and contamination-matrix joins must plan as
    equi-hash joins on their blocking keys — an accidental BNL here is
    quadratic at corpus scale."""
    for name in (
        "fuzzy_join_customer_names",
        "source_overlap_matrix",
        "fuzzy_join_part_names",
    ):
        df = ALL[name].fn(spark, sf_dir)
        assert nested_loop_join_count(df) == 0, name
        assert broadcast_join_count(df) + shuffle_join_count(df) >= 1, name


def test_fuzzy_length_band_blocking_exact_and_skew_capped(spark):
    """A high-frequency head noun must not form one quadratic block.
    Part 1 — exactness: with every name sharing ONE
    noun (so the noun key prunes nothing), the (noun, length-cell)
    blocked pair set equals the brute-force edit<=3 pair set, including
    pairs whose length gap of exactly 3 straddles a cell boundary.
    Part 2 — the cap: 10^4 distinct names under one noun enumerate only
    the within-band candidates (~2M here), never the ~5*10^7 pairs a
    noun-only block would."""
    from pyspark.sql import functions as F

    from spark_lever_spark.operators.joins import fuzzy_candidate_pairs

    rows = [
        ("a" * k + ("b" if k % 3 == 0 else "") + " corp", 1, "corp")
        for k in range(1, 120)
    ]
    names = spark.createDataFrame(
        rows, "p_name string, n_parts long, noun string"
    )
    blocked = (
        fuzzy_candidate_pairs(names)
        .filter(F.levenshtein("name_a", "name_b") <= 3)
        .select("name_a", "name_b")
    )
    brute = (
        names.select(F.col("p_name").alias("name_a"))
        .crossJoin(names.select(F.col("p_name").alias("name_b")))
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= 3)
        )
    )
    assert blocked.exceptAll(brute).count() == 0
    assert brute.exceptAll(blocked).count() == 0
    assert blocked.count() == brute.count() > 0

    n = 10_000
    big = spark.createDataFrame(
        [("x" * (i % 200) + f" v{i} corp", 1, "corp") for i in range(n)],
        "p_name string, n_parts long, noun string",
    )
    cand = fuzzy_candidate_pairs(big).count()
    assert 0 < cand < n * n // 10, cand


def test_merge_apply_single_merge_join(spark, sf_dir):
    """CDC merge: the batch derivation + one full-outer merge join —
    no nested loops, and the sequence variant pays exactly one extra
    window shuffle for latest-op compaction (never one join per
    batch)."""
    df = ALL["merge_apply_cdc_orders"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    df2 = ALL["merge_cdc_sequence_orders"].fn(spark, sf_dir)
    assert nested_loop_join_count(df2) == 0
    # compaction window + merge join + agg + sort bound the exchanges
    assert exchange_count(df2) <= exchange_count(df) + 2


def test_cms_sketch_single_pass_and_broadcast_probe(spark, sf_dir):
    """The 4x256 cell grid must arrive at the probe side via broadcast
    (it is at most 1024 rows at ANY input scale), and no join in the
    plan may be a nested loop."""
    df = ALL["sketch_cms_heavy_hitters"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert nested_loop_join_count(df) == 0


def test_incremental_dedup_band_joins_stay_equi(spark, sf_dir):
    """Delta dedup must candidate-generate through equi hash joins on
    (band_idx, digest) — an accidental cartesian here is O(corpus x
    batch) at 100 TB."""
    df = ALL["dedup_incremental_minhash"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0


def test_paragraph_dedup_two_data_shuffles(spark, sf_dir):
    """Paragraph dedup pays the hash-window shuffle and the per-doc
    regroup (plus final sort) — anything more means paragraph text is
    taking an extra round trip."""
    df = ALL["dedup_paragraph_rebuild"].fn(spark, sf_dir)
    assert exchange_count(df) <= 4
    assert nested_loop_join_count(df) == 0


def test_pii_redact_is_map_only(spark, sf_dir):
    """Redaction is a map-only scan; the per-source rollup is the only
    exchange (plus the final sort)."""
    df = ALL["text_pii_redact"].fn(spark, sf_dir)
    assert exchange_count(df) <= 2
    assert shuffle_join_count(df) == 0


def test_triangle_joins_stay_equi(spark, sf_dir):
    """Triangle enumeration must be hash equi-joins on vertex keys —
    a BNL there is |E|^2 at scale. The only nested loops allowed are
    the two final 1-row scalar-aggregate crossJoins (the
    relational.py broadcast-scalar pattern)."""
    df = ALL["triangle_count_copurchase"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) <= 2
    assert broadcast_join_count(df) + shuffle_join_count(df) >= 3


def test_interpolation_single_data_shuffle(spark, sf_dir):
    """Grid + events merge in ONE per-user window pass: exchanges are
    the union's partitioning plus the final sort — never one shuffle
    per bracket direction."""
    df = ALL["interpolate_linear_hourly"].fn(spark, sf_dir)
    assert exchange_count(df) <= 3


def test_backfill_dirty_set_broadcasts(spark, sf_dir):
    """The dirty-partition set must reach the semi/anti joins via
    broadcast (it is late-batch-sized, tiny at any scale) and nothing
    may nested-loop."""
    df = ALL["backfill_dirty_partitions"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 2
    assert nested_loop_join_count(df) == 0


def test_lpa_rounds_stay_equi(spark, sf_dir):
    """Every LPA round is (edge-label equi-join + two aggs) — a BNL
    anywhere makes a round O(|V|·|E|)."""
    df = ALL["lpa_communities_copurchase"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0


def test_concat_pack_data_shuffles_bounded(spark, sf_dir):
    """Concat packing (2-pass grouped cumsum): table data passes
    through the (source, bucket) window shuffle, the chunk group-by,
    and the final sort; the remaining exchanges carry only the
    num_bins-sized bounds/offset frames. The bounded explode must not
    add an exchange, the offsets arrive via broadcast (zero shuffle
    joins), and the only nested loops are the 1-row bounds attaches
    (one per pass)."""
    df = ALL["pack_concat_2048"].fn(spark, sf_dir)
    assert exchange_count(df) <= 8
    assert shuffle_join_count(df) == 0
    assert nested_loop_join_count(df) <= 2
    # the per-source cumsum window must be bucketed, never source-only
    import re

    from tests.plans import formatted_plan

    specs = re.findall(r"windowspecdefinition\(([^)]*)", formatted_plan(df))
    big = [s for s in specs if "doc_id" in s]
    assert big and all("_cbin" in s for s in big), specs


def test_jl_projection_is_map_only(spark, sf_dir):
    """JL projection is pure per-row HOF arithmetic — only the
    presentation sort may exchange; no joins at all."""
    df = ALL["embedding_jl_projection"].fn(spark, sf_dir)
    assert exchange_count(df) <= 1
    assert shuffle_join_count(df) + nested_loop_join_count(df) == 0


def test_global_rank_windows_partitioned_by_bin(spark, sf_dir):
    """The 2-pass global rank (grank.py) must never run an
    unpartitioned window over table data: every window that orders by
    the rank key (`_key`) must be partitioned by `_bin` (parallel
    across bins); only the <=num_bins offsets aggregate may use an
    order-only window. Bounds/offsets arrive via broadcast — zero
    shuffle joins, and the only nested-loop is the 1-row bounds
    attach."""
    import re

    from tests.plans import formatted_plan

    for name in (
        "window_ntile_quartiles",
        "window_percent_rank_cume",
        "pareto_concentration_customers",
        "gini_customer_revenue",
    ):
        df = ALL[name].fn(spark, sf_dir)
        plan = formatted_plan(df)
        specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
        big = [s for s in specs if "_key" in s]
        assert big, f"{name}: no ranked window found"
        for s in big:
            assert s.lstrip().startswith("_bin"), (name, s)
        assert "Exchange SinglePartition" not in plan, name
        assert shuffle_join_count(df) == 0, name
        # the 1-row bounds attach appears once per pass (the binned
        # lineage feeds both the offsets aggregate and the output side)
        assert nested_loop_join_count(df) <= 2, name


def test_dsir_stats_broadcast_and_boilerplate_digest_shuffles(spark, sf_dir):
    """Selection-family scale shapes: DSIR's 256-row feature table and
    1-row totals must arrive via broadcast (the occurrence stream
    never shuffle-joins); boilerplate strip must never nested-loop
    (digest equi-joins only); hard-negative mining's ONE nested loop
    is the sanctioned broadcast-batch shape."""
    df = ALL["dsir_importance_weights"].fn(spark, sf_dir)
    assert shuffle_join_count(df) == 0
    assert broadcast_join_count(df) + nested_loop_join_count(df) >= 2

    df = ALL["text_boilerplate_strip"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0

    df = ALL["hard_negative_mining"].fn(spark, sf_dir)
    assert shuffle_join_count(df) == 0
    assert nested_loop_join_count(df) == 1  # broadcast probe batch


def test_pagerank_rounds_stay_equi(spark, sf_dir):
    """PageRank rounds are equi-joins of the static degree-annotated
    edge list against the rank vector + one dst aggregation — a
    nested loop anywhere makes a round O(|V|·|E|)."""
    df = ALL["pagerank_copurchase"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0


def test_attribution_single_user_shuffle(spark, sf_dir):
    """Last-touch attribution is the union-window as-of shape: one
    user_id window shuffle + the channel rollup — never a
    per-purchase probe join."""
    df = ALL["attribution_last_touch_1h"].fn(spark, sf_dir)
    assert shuffle_join_count(df) + nested_loop_join_count(df) == 0
    assert exchange_count(df) <= 3


def test_peak_concurrency_window_is_day_bucketed(spark, sf_dir):
    """The +1/-1 sweep's prefix sum must never window on the
    low-cardinality event_type alone — the running-sum window over
    delta rows must include the day bucket (types x days parallelism);
    only the aggregated per-day offsets frame may window on
    event_type."""
    import re

    from tests.plans import formatted_plan

    df = ALL["peak_concurrency_by_type"].fn(spark, sf_dir)
    specs = re.findall(r"windowspecdefinition\(([^)]*)", formatted_plan(df))
    big = [s for s in specs if " d#" in s or ", d#" in s]
    assert big and all(" b#" in s or ", b#" in s for s in big), specs
    assert shuffle_join_count(df) == 0


def test_round16_dispersion_grid_joins_broadcast(spark, sf_dir):
    """Gries-DP: the 400-row term x source grid must meet the pruned
    word-count side through BROADCAST joins only — the full vocabulary
    table never shuffles for the grid probe (it appears once, under
    the three upstream aggregations)."""
    df = ALL["term_dispersion_gries_dp"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 3
    assert nested_loop_join_count(df) <= 2  # scalar tot attaches only
    assert shuffle_join_count(df) == 0


def test_round16_ate_broadcasts_customer_dim(spark, sf_dir):
    """Stratified ATE: the customer dim arrives broadcast; the only
    shuffles are the fact equi-join and the 125-cell aggregation."""
    df = ALL["stratified_ate_priority_returns"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert nested_loop_join_count(df) <= 1  # 1-row naive scalar attach


def test_round16_eb_broadcasts_part_dim(spark, sf_dir):
    """EB shrinkage: part dim broadcast; grand totals attach as a
    broadcast scalar, never a shuffle of the 25-brand table."""
    df = ALL["eb_shrunk_brand_return_rates"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert shuffle_join_count(df) == 0


def test_round16_config_model_triangle_joins_are_equi(spark, sf_dir):
    """Configuration-model null check: the triangle enumeration stays
    the compact-forward pair of HASH equi-joins (the
    triangle_count_copurchase contract); the expectation rollup
    attaches as a broadcast scalar."""
    df = ALL["config_model_triangle_excess_copurchase"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) <= 1  # 1-row t_obs scalar attach
    assert shuffle_join_count(df) + broadcast_join_count(df) >= 3


def test_round16_simhash_audit_is_pure_aggregation(spark, sf_dir):
    """Bit-balance audit: no joins at all — one explode scan through
    two map-side-combinable aggregations; the plan must stay inside
    whole-stage codegen with exactly the two grouping exchanges."""
    df = ALL["simhash_bit_balance_audit"].fn(spark, sf_dir)
    assert shuffle_join_count(df) == 0
    assert nested_loop_join_count(df) == 0
    assert exchange_count(df) <= 3  # (doc,j) agg + j rollup + sort


def test_round17_er_pipeline_joins_are_equi(spark, sf_dir):
    """Cross-source ER: nothing in the visible plan degrades to a
    nested loop (the band-digest equi-join property of the shared
    candidate helper is pinned by test_minhash_lsh_band_join_is_equi_
    hash; the CC rounds' localCheckpoints hide the upstream joins from
    the final assembly's plan, so the assertion here covers the
    entity-table assembly)."""
    df = ALL["er_cross_source_docs"].fn(spark, sf_dir)
    assert nested_loop_join_count(df) == 0
    assert shuffle_join_count(df) + broadcast_join_count(df) >= 1


def test_round17_blocking_audit_sample_pairs_via_lang_hash_join(
    spark, sf_dir
):
    """Blocking audit: the within-sample all-pairs enumeration rides a
    lang HASH equi-join (inequality + source filters as residuals);
    the five scalar metric attaches are aggregate-derived broadcast
    crosses, which are the only nested loops in the plan."""
    from spark_lever_spark.catalog import pin_scope
    from spark_lever_spark.llm.dedup import _er_lsh_blocking_audit_plan
    from tests.plans import formatted_plan

    # The registered query pins its 1-row result eagerly; the join
    # shapes are read on the extracted lazy builder (the kmeans
    # builder precedent), in a pin scope that releases its pins.
    def check():
        df = _er_lsh_blocking_audit_plan(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert shuffle_join_count(df) + broadcast_join_count(df) >= 5

    pin_scope(check)


def test_round17_kmeans_refine_broadcasts_centroids(spark, sf_dir):
    """Lloyd refinement: both assignment passes probe BROADCAST k=8
    centroid tables; the only data-grain shuffles are the (cid, dim)
    update aggregation and the keyed argmin aggs. Pins the PRE-checkpoint
    plan via the extracted builder (the registered query returns an
    eagerly checkpointed k-row result with truncated lineage), in a pin
    scope that releases the builder's two pins."""
    from spark_lever_spark.catalog import pin_scope
    from spark_lever_spark.llm.similarity import _kmeans_lloyd_refine_plan
    from tests.plans import formatted_plan

    def check():
        df = _kmeans_lloyd_refine_plan(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        # iteration-1 assignments are persisted: every one of their five
        # consumers must read the cache (the formatted plan reprints the
        # cached fragment per reference, so substring counts of the BNLJ
        # probes are presentation, not recompute — the pin is that the
        # cache IS there and no data-grain shuffle cross exists)
        assert "InMemoryTableScan" in plan
        assert shuffle_join_count(df) <= 5

    pin_scope(check)


def test_round17_duplication_matrix_equi_only(spark, sf_dir):
    """Source x source matrix: pair grain from the band equi-join,
    meta attaches keyed, rollups keyed — zero nested loops."""
    from spark_lever_spark.catalog import pin_scope
    from spark_lever_spark.llm.dedup import _cross_source_duplication_matrix_plan

    # Plan read on the extracted lazy builder (the registered query
    # returns an eagerly pinned result with truncated lineage), in a
    # pin scope that releases its signature pin.
    def check():
        df = _cross_source_duplication_matrix_plan(spark, sf_dir)
        assert nested_loop_join_count(df) == 0

    pin_scope(check)


def test_round18_bloom_audit_probe_is_broadcast_only(spark, sf_dir):
    """Bloom decontamination audit: the corpus-side gram stream is
    probed and exactly verified via BROADCAST joins only (the eval
    side is the small side by construction) — no corpus-grain shuffle
    join anywhere; the 1-row filter-size attach and the final metric
    assembly are the only nested loops."""
    from tests.plans import formatted_plan

    df = ALL["decontaminate_bloom_ngram_audit"].fn(spark, sf_dir)
    assert shuffle_join_count(df) == 0
    assert broadcast_join_count(df) >= 3  # two bit probes + exact verify
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_round18_ivf_recall_curve_broadcasts_panel(spark, sf_dir):
    """IVF recall curve: the fixed query panel and the centroid table
    ride broadcasts; per-query top-k is a WindowGroupLimit (k rows per
    query reach the shuffle, not the Q x N cross)."""
    from tests.plans import formatted_plan

    df = ALL["ann_ivf_nprobe_recall_curve"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert shuffle_join_count(df) <= 1  # brute x cell-rank equi-join
