"""Physical-plan shape assertions: the scale claims made in docstrings and
README design rules, locked as tests. A regression that silently drops a
pushed filter, un-broadcasts a dimension, or adds a shuffle fails here even
though results stay correct."""

from __future__ import annotations

import pytest

from dampr_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return (
        all_queries()[name]
        .builder(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_filter_where_pushdown(spark):
    plan = plan_of(spark, "filter_where")
    # predicates reach the scan (toString truncates the full list at ~100
    # chars, so assert the prefix plus the date bound that fits)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plan


def test_map_project_column_pruning(spark):
    plan = plan_of(spark, "map_project")
    # scan reads exactly the four referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int" in plan
    assert "l_tax" not in plan and "l_comment" not in plan


def test_q14_broadcasts_dimension(spark):
    plan = plan_of(spark, "q14_promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_partial_aggregation(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_topk_no_global_sort(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan
    # no full Sort node — top-k must be heap-based, not sort-the-world
    assert "Sort [" not in plan


def test_asof_join_single_window_no_join_explosion(spark):
    plan = plan_of(spark, "asof_last_click")
    # union+window construction: a Window over the union, and NO join node
    # (the naive range-join-then-argmax would show one)
    assert "Window" in plan
    assert "Join" not in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "semi_join_by_count")
    assert "LeftSemi" in plan


def test_q7_broadcasts_nation_dims(spark):
    plan = plan_of(spark, "q7_nation_volume")
    # both 2-row nation selects must broadcast; the nation-name predicate
    # must prune at their scans, not after the 5-way join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "In(n_name, [NATION_1,NATION_2])" in plan


def test_q18_having_becomes_semi_join(spark):
    plan = plan_of(spark, "q18_large_volume_customer")
    assert "LeftSemi" in plan


def test_q19_predicate_single_scan(spark):
    plan = plan_of(spark, "q19_discounted_revenue")
    # OR-of-ANDs stays one filter over one joined stream — not three
    # unioned lineitem scans
    assert plan.count("Scan parquet") == 2  # lineitem + part, once each
    assert "BroadcastHashJoin" in plan


def test_embedding_near_dups_no_cartesian(spark):
    plan = plan_of(spark, "embedding_near_dups")
    # the whole point vs embedding_cosine_dups: no nested-loop product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_single_scan_per_relation(spark):
    """The market-share ratio is ONE conditional aggregate — the denominator
    must not re-scan anything: each of the 8 relations appears exactly once."""
    plan = plan_of(spark, "q8_market_share")
    assert plan.count("Scan parquet") == 8
    assert "CartesianProduct" not in plan


def test_q11_aggregates_fact_once(spark):
    """Group-vs-global HAVING reads the per-supplier aggregate from the
    eager checkpoint for BOTH consumers — lineitem is never re-scanned, and
    the 1-row threshold broadcasts (BNLJ, not CartesianProduct)."""
    plan = plan_of(spark, "q11_revenue_concentration")
    assert plan.count("Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q17_correlated_avg_is_one_window(spark):
    """The correlated per-part avg decorrelates into a single Window pass —
    no self-join of lineitem (2 scans: lineitem + the broadcast part dim)."""
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert plan.count("Scan parquet") == 2
    assert plan.count("Window") == 1


def test_q21_exists_decorrelated_no_self_join(spark):
    """EXISTS / NOT-EXISTS become window aggregates over (order, supplier) —
    lineitem appears once, supplier once, and there is no sort-merge
    self-join of the pair table."""
    plan = plan_of(spark, "q21_sole_late_shipper")
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan or plan.count("Scan parquet") == 2


def test_q13_left_outer_preserved(spark):
    """The priority filter rides the join condition; the outer join (and its
    zero-order customers) must survive into the physical plan."""
    plan = plan_of(spark, "q13_customer_order_distribution")
    assert "LeftOuter" in plan


def test_ann_batch_topk_window_group_limit(spark):
    """The per-query rank<=10 cut is pushed below the exchange
    (WindowGroupLimit partial+final): each partition ships at most 10 rows
    per query, so the batch-ANN window never concentrates the corpus."""
    plan = plan_of(spark, "ann_batch_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_event_funnel_no_self_join(spark):
    """The 3-stage funnel is conditional aggregation, not a 3-way stream
    self-join: no join operator of any kind in the plan."""
    plan = plan_of(spark, "event_funnel")
    assert "Join" not in plan


def test_sample_fraction_check_no_cartesian(spark):
    """The two 1-row aggregates cross-join via a broadcast nested loop, not
    an unhinted CartesianProduct (which would shuffle both sides)."""
    plan = plan_of(spark, "sample_fraction_check")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_order_gap_days_single_window_shuffle(spark):
    plan = plan_of(spark, "order_gap_days")
    assert "Window" in plan
    assert plan.count("Exchange") == 1


def test_repetition_filter_zero_shuffle(spark):
    plan = plan_of(spark, "repetition_filter")
    # pure projection: both dup ratios fuse into the scan — no exchange,
    # no aggregate, no join
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    plan = plan_of(spark, "decontaminate_ngram")
    # the benchmark gram set must broadcast; the corpus side must never be
    # the build side of a shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_token_budget_partitions_by_source(spark):
    plan = plan_of(spark, "pack_token_budget")
    # packing parallelizes per source: exactly one hash exchange (on
    # source), never a single-partition global cumsum
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_corpus_mix_report_single_scan(spark):
    plan = plan_of(spark, "corpus_mix_report")
    # grand-total share must come from a window over the aggregate, not a
    # second pass over documents
    assert plan.count("Scan parquet") == 1


def test_pii_redact_zero_shuffle(spark):
    # PII scrubbing is a pure regexp scan pass: no Exchange anywhere.
    plan = plan_of(spark, "pii_redact")
    assert "Exchange" not in plan


def test_chunk_documents_zero_shuffle(spark):
    # Sliding-window chunking is explode-only: no Exchange, one scan.
    plan = plan_of(spark, "chunk_documents")
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_common_substring_dups_single_scan(spark):
    # Posting-list self-pairing evaluates the window expression once: ONE
    # documents scan, no SortMergeJoin of two gram lineages.
    plan = plan_of(spark, "common_substring_dups")
    assert plan.count("FileScan") == 1
    assert "SortMergeJoin" not in plan


def test_nearest_centroid_assign_broadcasts_centroids(spark):
    # Centroids broadcast into the crossJoin (BroadcastNestedLoopJoin);
    # the argmax shuffle carries scalars, never embedding arrays — so no
    # SortMergeJoin and no exchange of the embedding column.
    plan = plan_of(spark, "nearest_centroid_assign")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_events_dedup_keep_latest_single_shuffle(spark):
    # One exchange on the dedup key feeds the rank window.
    plan = plan_of(spark, "events_dedup_keep_latest")
    assert plan.count("Exchange") == 1


def test_budget_sample_partitions_by_source(spark):
    # Rank window partitions by source — one hash exchange, no global sort.
    plan = plan_of(spark, "budget_sample_per_source")
    assert "hashpartitioning(source" in plan


def test_rolling_event_value_single_shuffle(spark):
    # RANGE-frame window: one exchange on user_id, frame scan in-partition.
    plan = plan_of(spark, "rolling_event_value")
    assert plan.count("Exchange") == 1


def test_session_stats_single_sort_shared_by_windows(spark):
    """lag + running-sum share ONE Exchange+Sort (same partitioning and
    ordering -> one Window sort pass), and the per-session groupBy reuses
    the user_id partitioning (no second exchange)."""
    plan = plan_of(spark, "session_stats")
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") == 1


def test_gopher_rules_single_scan_single_exchange(spark):
    """All four rule families evaluate as expression columns in one scan;
    the per-source report is one partial-aggregated exchange."""
    plan = plan_of(spark, "gopher_rules_report")
    assert plan.count("Scan parquet") <= 1  # AQE may fold the scan string
    assert plan.count("Exchange") == 1


def test_oov_vocab_broadcasts(spark):
    """The top-K vocabulary reaches the token stream as a broadcast join,
    and the vocab build itself is TakeOrdered (no global Sort)."""
    plan = plan_of(spark, "oov_rate_by_lang")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_rolling_window_one_exchange(spark):
    """The skew-safe rolling window still costs exactly one shuffle: the
    union + bucket replication happen scan-side, the window runs once over
    (user, bucket)."""
    plan = plan_of(spark, "rolling_event_value_bucketed")
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_weighted_sample_partial_topk(spark):
    """A-ES weighted sampling must be scan + partial top-k — no global sort
    of the corpus."""
    plan = plan_of(spark, "weighted_sample_topk")
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_on_shuffle_join(spark, sf_dir):
    """100 TB join pre-filtering: when the selective dim side is small,
    Catalyst broadcasts it (the better plan, locked elsewhere); when the
    dim exceeds the broadcast threshold (simulated by disabling broadcast),
    the runtime-bloom-filter rule must inject a `might_contain` prefilter
    on the fact-table scan so the shuffle moves only probably-matching rows
    — the mechanism that keeps selective shuffle joins viable at scale."""
    from pyspark.sql import functions as F

    from dampr_spark.sources.readers import read_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        l = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )


def test_user_value_ewma_single_exchange(spark):
    """One groupBy aggregate carries the whole fold: exactly one shuffle,
    no window sort, no join."""
    plan = plan_of(spark, "user_value_ewma")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "Window" not in plan


def test_zorder_curve_heap_topk(spark):
    """Top-100 curve positions must be heap-based (TakeOrderedAndProject),
    never a global sort of the table."""
    plan = plan_of(spark, "zorder_curve_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_fuzzy_match_no_cartesian(spark):
    """The blocked fuzzy join must join on the block key — a cartesian (the
    naive all-pairs Levenshtein) must never appear."""
    plan = plan_of(spark, "fuzzy_match_pairs")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_boilerplate_removal_no_cartesian_hot_anti_join(spark):
    """Hot-chunk removal is an anti join on the chunk key; no cartesian."""
    plan = plan_of(spark, "boilerplate_chunk_removal")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan


def test_next_token_probs_broadcast_context_probe(spark):
    """The bigram stream is filtered by a BROADCAST of the 5 hot contexts
    before the pair aggregate — no shuffle of the full bigram set onto the
    pair key without the probe."""
    plan = plan_of(spark, "next_token_probs")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_profile_orders_single_scan(spark):
    plan = plan_of(spark, "profile_orders")
    assert plan.count("FileScan parquet") == 1


def test_hll_rollup_partial_sketches(spark):
    """Per-day sketches aggregate partially (map-side) before the merge —
    the plan must show a two-phase aggregate over hll sketches and no
    distinct expand on raw events for the merged estimate path."""
    plan = plan_of(spark, "hll_sketch_rollup_check")
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan


def test_corpus_shuffle_order_heap_first(spark):
    """Global rank is computed AFTER a heap top-50 — the plan must show
    TakeOrderedAndProject feeding the window, never a whole-corpus
    single-partition window sort."""
    plan = plan_of(spark, "corpus_shuffle_order")
    assert "TakeOrderedAndProject" in plan


def test_value_outliers_broadcast_stats(spark):
    """Per-type stats join back as a BROADCAST — never a per-row window
    over the event stream."""
    plan = plan_of(spark, "value_outliers_by_type")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_token_cooccurrence_heap_topk_and_broadcast_cap(spark):
    plan = plan_of(spark, "token_cooccurrence_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_mom_growth_window_over_aggregate_only(spark):
    """The lag window must sit ABOVE the monthly aggregate (bounded input),
    with the corpus-size work in the aggregate below it."""
    plan = plan_of(spark, "mom_revenue_growth")
    assert "Window" in plan and "HashAggregate" in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], "aggregate must feed the window"


def test_revenue_share_window_over_aggregate_only(spark):
    plan = plan_of(spark, "revenue_share_by_nation")
    assert "Window" in plan and "HashAggregate" in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], "aggregate must feed the window"


def test_fuzzy_decontaminate_broadcasts_bench_side(spark):
    """The benchmark gram postings and both size lookups must broadcast —
    the corpus side never shuffles gram-level rows; the only wide exchange
    is the per-(doc, bench) aggregate."""
    plan = plan_of(spark, "fuzzy_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_range_search_no_shuffle(spark):
    """Range search is a broadcast of the 1-row query + a narrow filter
    scan: no aggregate/join exchange over the corpus at all."""
    plan = plan_of(spark, "cosine_range_search")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_embedding_centroid_outliers_takeordered(spark):
    """Outlier screen ends in a heap top-20, never a global sort; the
    centroid row joins via broadcast."""
    plan = plan_of(spark, "embedding_centroid_outliers")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_length_curriculum_buckets_no_single_partition_window(spark):
    """The ntile rewrite must not plan a global (empty-partition-spec)
    window over the corpus: the only window runs per range-partition id.
    A bare `Window [ntile(...)` with no partition spec is the single-task
    funnel this catalog bans."""
    plan = plan_of(spark, "length_curriculum_buckets")
    assert "ntile" not in plan
    # the surviving windows are the per-pid row_number and the
    # partition-count-sized offsets pass — both keyed, neither corpus-wide
    assert "_pid" in plan


def test_bigram_pmi_heap_topk_no_global_sort(spark):
    """PMI's final cut must be a heap top-50 (TakeOrderedAndProject), and
    the scalar totals must ride broadcast joins — no corpus-wide sort, no
    SortMergeJoin against a 1-row frame."""
    plan = plan_of(spark, "bigram_pmi")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dedup_keep_best_no_window(spark):
    """Keep-best dedup is a fingerprint-keyed max_by aggregate — a window
    (rank-per-group) formulation would sort every group; the aggregate
    keeps one candidate per group per map task."""
    plan = plan_of(spark, "exact_dedup_keep_best")
    assert "Window" not in plan
    # struct-max over a string payload plans as SortAggregate — still the
    # partial+final two-phase shape (one candidate per group per map task)
    assert "partial_max" in plan
    assert plan.count("Aggregate") >= 2


def test_driver_window_rotates_two_stalest_rows_only():
    """The first 50 catalog entries (the driver's correctness window) carry
    exactly two rows-only queries per round — the two with the OLDEST
    driver record — so the no_oracle backlog refreshes at two per round
    without displacing any never-checked oracle-backed query."""
    from dampr_spark.plans.catalog import _rows_only_last_seen, all_queries

    qs = list(all_queries().items())
    window_rows_only = [n for n, q in qs[:50] if q.oracle is None]
    assert len(window_rows_only) == 2
    seen = _rows_only_last_seen()
    all_rows_only = sorted(
        (n for n, q in qs if q.oracle is None),
        key=lambda n: (seen.get(n, 0), n),
    )
    assert set(window_rows_only) == set(all_rows_only[:2])
    # never-checked oracle-backed queries (if any) must all be in-window
    from dampr_spark.plans.catalog import _window_key

    rank0 = [n for n, q in qs if _window_key(q)[0] == 0]
    assert all(n in dict(qs[:50]) for n in rank0)


def test_dsir_broadcasts_ratio_table(spark):
    """DSIR's 256-row log-ratio table must reach the per-doc bucket counts
    as a broadcast join (corpus never shuffles by bucket against a table),
    and the corpus must pair-explode exactly once."""
    plan = plan_of(spark, "dsir_en_importance")
    assert "BroadcastHashJoin" in plan
    # ZERO explodes in the final plan (round 13, the single-explode
    # flagged path): the ONE pair-explode lives behind the pinned
    # (id, tgt, bucket, k) frame, which feeds the raw distribution, the
    # target distribution, AND the scoring join — the final plan reads
    # the checkpoint and never replays text expansion at all (the old
    # three-explode shape re-exploded for scoring: count was 1).
    assert plan.count("Generate explode") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_bigram_perplexity_single_pair_explode(spark):
    """The perplexity query's corpus pair-explode runs ONCE (localCheckpoint
    pins it for the model aggregates and the scoring join) — the bigram_pmi
    duplicate-explode lesson, plan-locked."""
    plan = plan_of(spark, "bigram_doc_perplexity")
    assert plan.count("Generate explode") == 0  # pinned behind the checkpoint
    assert "Scan ExistingRDD" in plan  # reads the checkpointed frame
    assert "CartesianProduct" not in plan


def test_substring_trim_no_corpus_explode_on_rebuild(spark):
    """trim_repeated_spans rebuilds text with a JVM token-filter expression:
    the only corpus explodes are span DETECTION's anchor passes — the
    rebuild side joins merged cut intervals back to whole documents."""
    plan = plan_of(spark, "substring_trim_dedup")
    # detection explodes anchors once and pairs once; the rebuild side adds
    # NO further Generate (token filtering is transform+filter expressions)
    assert plan.count("Generate explode") == 2
    assert "CartesianProduct" not in plan


def test_textrank_vocab_probes_broadcast(spark):
    """Both vocab-membership probes on the pair stream must broadcast the
    150-row vocabulary — the exploded pair stream never shuffles for the
    filter; the only wide exchange is the (lo, hi) count aggregate. (The
    full query eagerly checkpoints each stage, so the lock targets the
    pre-checkpoint pair-count fragment — the only corpus-sized joins in
    the query; the PageRank rounds operate on a ≤150-node graph.)"""
    from pyspark.sql import functions as F

    from dampr_spark.plans.textops import _textrank_pair_counts
    from dampr_spark.sources.readers import read_table

    d = read_table(spark, SF, "documents").filter(F.col("text").isNotNull())
    vocab = d.select(F.explode(F.split("text", " ")).alias("w")).limit(10)
    plan = (
        _textrank_pair_counts(d, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_user_state_history_single_user_shuffle(spark):
    """All three window passes partition by user_id (one reuses the
    (user_id, event_type) refinement) — no global Sort without
    partitioning, no join at all."""
    plan = plan_of(spark, "user_state_history")
    assert "Join" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_hll_explicit_no_sort_merge(spark):
    """Sketch build is aggregate-only (map-side partial collapses each
    partition to <= types x 2^p register rows); the 1-row estimate meets
    the 1-row exact count via broadcast, never a shuffle join."""
    plan = plan_of(spark, "hll_explicit_distinct_users")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final, sketch+exact


def test_vocab_coverage_curve_monotone_and_clamped(spark):
    """Coverage is non-decreasing in vocab_size, within (0, 1], and
    n_types clamps at the true vocabulary size."""
    from dampr_spark.plans import all_queries

    rows = sorted(
        all_queries()["vocab_coverage_curve"].builder(spark, SF).collect(),
        key=lambda r: r.vocab_size,
    )
    assert rows
    prev = 0.0
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert r.coverage >= prev
        prev = r.coverage
        assert r.n_types <= r.vocab_size
    assert rows[-1].n_types <= rows[-1].vocab_size


def test_winsorized_mean_resists_planted_outliers(spark):
    """A planted 1000x outlier drags the raw mean but not the winsorized
    one — the clamp bounds come from exact_group_quantiles, so the
    operator composition (rank-recovery quantiles -> broadcast clamp) is
    exercised end to end on a controlled frame."""
    from pyspark.sql import functions as F

    from dampr_spark.operators.stats import exact_group_quantiles

    rows = [("a", float(v)) for v in range(1, 101)] + [("a", 100000.0)]
    rows += [("b", 50.0)] * 21
    df = spark.createDataFrame(rows, "g string, px double")
    b = exact_group_quantiles(df, ["g"], "px", [0.05, 0.95]).select(
        F.col("g").alias("_g"), F.col("q_0").alias("lo"), F.col("q_1").alias("hi")
    )
    got = {
        r.g: r
        for r in df.join(F.broadcast(b), df.g == F.col("_g"))
        .groupBy("g")
        .agg(
            F.avg(F.least(F.greatest(F.col("px"), F.col("lo")), F.col("hi"))).alias(
                "wmean"
            ),
            F.avg("px").alias("rmean"),
        )
        .collect()
    }
    assert got["a"].rmean > 1000  # outlier owns the raw mean
    assert got["a"].wmean < 60  # clamp restores the bulk signal
    assert abs(got["b"].wmean - 50.0) < 1e-9  # constant group untouched


def test_winsorized_price_stats_means_ordered(spark):
    """On the real table: p05 <= winsorized_mean <= p95 per group, and the
    clamp can only pull the mean INTO the [p05, p95] band."""
    from dampr_spark.plans import all_queries

    for r in all_queries()["winsorized_price_stats"].builder(spark, SF).collect():
        assert r.p05 <= r.winsorized_mean <= r.p95
        assert r.n > 0


def test_semantic_grid_blocking_broadcast_fit_no_sortmerge(spark):
    """The grid fit (1-row bounds frame) must BROADCAST onto the corpus —
    cell assignment is a codegen pass, never a corpus co-shuffle; the only
    hash exchange is the cell-keyed count."""
    plan = plan_of(spark, "semantic_grid_blocking")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_grid_pairs_cell_keyed_no_cartesian(spark):
    """The pair stage is keyed by the cell: members collect per cell and
    pair inside the cell's row, with no join at all. What must never
    appear is an unkeyed product over the corpus. At test scale a keyless
    product plans as BroadcastNestedLoopJoin (auto-broadcast), not
    CartesianProduct. The correct plan holds exactly ONE BNLJ — the
    1-row grid-bound fit crossJoined onto every vector — so a crossJoin
    pair stage (a second BNLJ, or a CartesianProduct at scale) fails."""
    from dampr_spark.operators.similarity import semantic_grid_pairs
    from dampr_spark.sources.readers import read_table

    df = semantic_grid_pairs(read_table(spark, SF, "embeddings"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
