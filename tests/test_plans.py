"""Plan-level performance regressions: the physical plans the
100 TB design depends on, asserted so a refactor can't silently
trade them away — filters/projection reaching the parquet scan,
dimensions broadcasting, partial-before-final aggregation."""

from __future__ import annotations

import pytest

from spark_flink_streaming_example_with_test_spark.plans.catalog import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    # only the 4 predicate/aggregate columns, not all 11
    assert "l_returnflag" not in schema and "l_partkey" not in schema
    for c in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert c in schema


def test_q3_broadcasts_customer_dim(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_all_dims(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # region, nation, supplier all ride broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_q1_partial_before_final_aggregate(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "partial_" in plan  # map-side combine present
    assert plan.count("Exchange") == 1  # single shuffle on group keys


def test_flagship_single_shuffle(spark):
    plan = _plan(spark, "activity_windowed_count")
    assert plan.count("Exchange") == 1


def test_minhash_signatures_one_keyed_shuffle_of_partial_aggregates(spark):
    """MinHash signatures are codegen'd min-aggregates keyed by the
    document: besides the parallelism-guard round-robin of the input,
    the plan has exactly one exchange, hash-partitioned on the id, with
    the partial HashAggregate below it — so the shuffle carries one row
    per document, never one per shingle — and no ObjectHashAggregate
    or SortAggregate (array-buffer aggregates that lose codegen)."""
    import re

    from spark_flink_streaming_example_with_test_spark.operators import dedup as dd
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    # Earlier tests may have persisted the same shingle plan; the
    # cache manager would splice an InMemoryRelation in here and hide
    # the exchanges this test is about.
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.minhash_signatures(dd.hashed_shingle_sets(docs))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobin" in plan  # the parallelism guard
    assert plan.count("Exchange") == 2  # the guard + the keyed shuffle
    assert re.findall(r"Exchange hashpartitioning\((\w+)#", plan) == ["doc_id"]
    below = plan.split("Exchange hashpartitioning", 1)[1]
    assert "HashAggregate" in below and "partial_min(" in below
    assert "ObjectHashAggregate" not in plan
    assert "SortAggregate" not in plan


def test_topk_cosine_broadcasts_queries(spark):
    plan = _plan(spark, "similarity_topk_cosine")
    assert "Broadcast" in plan


def test_decontaminate_no_cartesian(spark):
    """Contamination check must be the inverted-index join on the
    gram key — never a doc x doc or gram x gram cartesian."""
    plan = _plan(spark, "decontaminate_ngrams")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_prunes_columns(spark):
    """The sampling predicate is derived from doc_id/source only —
    the scan must not read the document text."""
    plan = _plan(spark, "stratified_sample_by_source")
    schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" not in schema
    assert "doc_id" in schema and "source" in schema


def test_hyperplane_lsh_single_bucket_shuffle(spark):
    """The bucketed similarity self-join shuffles on the bucket id;
    the bucket projection itself is map-side (no exchange before
    the window/count that enforces the bucket cap) and there is no
    cartesian fallback."""
    plan = _plan(spark, "similarity_lsh_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries that use a nested-loop/cartesian join DELIBERATELY: tiny
# broadcast side by construction (query vectors, centroid sets, band
# tables, scalar subquery results), where BroadcastNestedLoopJoin IS
# the right physical plan.
_INTENTIONAL_NLJ = {
    "rolling_distinct_users_7d",  # 1-row max-day bound crossJoin
    "user_lifetime_survival_curve",  # 8-row day-spine inequality join
    "t_closeness_audit",          # 1-row corpus-total crossJoin
    "theil_sen_daily_trend",      # |days|^2 pair theta join (wall-clock bounded)
    "mann_kendall_trend",         # |days|^2 pair theta join + 1-row crossJoin
    "join_cardinality_estimate",  # 1-row per-side stat crossJoins
    "conformal_quality_threshold",  # 1-row threshold/coverage crossJoins
    "rfm_user_segments",          # 1-row dmax + tercile-edge crossJoins
    "autocorr_daily_counts",      # 3-row lag-spine crossJoin
    "dedup_cross_lingual",        # 1-row hot-gram-drop-count crossJoin
    "dedup_weighted_jaccard",     # 1-row hot-gram-drop-count crossJoin
    "similarity_topk_cosine",     # <=5 query rows broadcast
    "similarity_ivf_topk",        # 16 centroids broadcast
    "similarity_ivf_kmeans",      # same, trained centroids
    "ivf_list_balance",           # 16 centroids broadcast (assignment)
    "join_range_price_bands",     # 3-row band table, pure theta join
    "q11_part_value_share",       # scalar subquery threshold
    "q8_market_share",            # scalar ratio denominator
    "having_big_customers",       # 1-row average crossJoin
    "q14_promo_revenue_share",    # scalar ratio
    "q17_small_quantity_revenue", # correlated avg threshold
    "tfidf_top_terms",            # 1-row corpus-size crossJoin
    "dedup_simhash",              # 1-row summary crossJoins
    "dedup_minhash_recall",       # 1-row summary crossJoins
    "stats_by_event_type",        # grand-total scalar
    "q22_idle_rich_customers",    # scalar avg-balance subquery
    "q20_dominant_part_suppliers",
    "time_spine_gapfill",         # hours x 5 types spine cross
    "unigram_logprob_scores",     # 1-row corpus-total crossJoin
    "embedding_pq_codes",         # 8-row codebook broadcast
    "ann_recall_ivf",             # <=5 query rows broadcast (exact leg)
    "embedding_pq_trained",       # 32-row codebook broadcast (seed err leg)
    "bpe_apply_first_merge",      # 1-row argmax merge-rule crossJoin
    "embedding_outlier_scores",   # 1-row moment-arrays crossJoin
    "hybrid_search_rrf",          # 1-row corpus-stats crossJoin
    "regr_value_trend",           # 1-row global-min-ts crossJoin
    "hll_sketch_union_tokens",    # 1-row sketch-estimate crossJoin
    "funnel_conversion_steps",    # 1-row step-1 denominator crossJoin
    "welch_ttest_event_types",    # 5-row moment-table theta self-join
    "triangle_count_links",       # 1-row node-count crossJoin (graph gen)
    "source_token_kl",            # 1-row corpus-total crossJoin
    "dq_audit_orders",            # 1-row rule-denominator crossJoins
    "token_cooccurrence_pairs",   # 1-row corpus-count crossJoin
    "equi_depth_histogram_values",  # 1-row percentile-edges crossJoin
    "bigram_logprob_scores",      # 1-row vocab-size crossJoin
    "source_token_pmi",           # 1-row corpus-total crossJoin
    "dedup_weighted_jaccard",     # 1-row corpus-count crossJoin (IDF)
    # round-9 curation queries (plans/curation.py)
    "hard_negative_mining",       # <=5-row query-set broadcast
    "dedup_threshold_sensitivity",  # 6-row threshold grid + 1-row total
    "centroid_silhouette_score",  # 12-row centroid broadcast
    "multi_vector_maxsim",        # 4-row query-token-set broadcast
    # round-10 eval/statistics queries (plans/evalstats.py)
    "chi_square_source_lang",     # marginal-sized grid + 1-row total
    "calibration_reliability_bins",  # 1-row max-count crossJoin
    "knn_label_disagreement",     # <=5-row probe-set broadcast
    "token_budget_selection",     # 1-row budget crossJoin
    "dup_weighted_source_share",  # 1-row corpus-total crossJoin
    "link_prediction_common_neighbors",  # 1-row node-count crossJoin
    "retrieval_eval_ndcg",        # <=5-row query-set broadcast
    "mutual_information_source_lang",  # 1-row total crossJoin
    "cohens_kappa_langid",        # 1-row chance-agreement crossJoin
    "context_window_overflow_audit",  # 1-row total crossJoin
    "eval_suite_report",          # composes the above scalar attaches
    # round-10 measures queries (plans/measures.py)
    "perplexity_bucket_filter",   # 1-row corpus-total crossJoin
    "jackknife_source_sensitivity",  # 1-row global-totals crossJoin
    # round-10 governance queries (plans/governance.py)
    "split_leakage_audit",        # 1-row contamination-count crossJoin
    "corpus_datacard_report",     # 1-row token-stats crossJoin
    # round-10 batch-5 statistics queries (plans/measures.py)
    "qq_decile_drift",            # 9-row decile-spine broadcast
    # round-11 inference queries (plans/inference.py) — every NLJ is
    # a 1-row scalar attach or a value/cell-frame join bounded by
    # value cardinality, never corpus-sized on both sides
    "kendall_tau_decile_assoc",   # <=100-cell joint-frame theta self-join + 1-row totals
    "kruskal_wallis_by_source",   # 1-row H/tie-correction scalar attach
    "levene_brown_forsythe",      # 1-row W scalar attach + totals
    "lsh_band_planning",          # 50-row S-curve literal + 1-row pair total
    "bootstrap_mean_ci_events",   # 1-row point-stats crossJoin
    "graph_degree_assortativity", # 1-row node-count crossJoin (graph gen)
    "jsd_source_token_divergence",  # 1-row corpus-total crossJoin
    "cramers_v_source_lang",      # marginal grid + 1-row dims/total attaches
    "runs_test_daily_counts",     # 1-row median/day-count crossJoins
    "friedman_event_types_by_day",  # day x type spine + 1-row chi2 attach
    "quality_decile_lift",        # 1-row totals crossJoin
    "mood_median_test",           # 1-row median + chi2 scalar attaches
    "dsir_importance_buckets",    # 256-row feature-table broadcast + 1-row total
    "fellegi_sunter_mu_weights",  # 1-row m/u summary crossJoin + 1-row N attach
    # round-12 experimentation queries (plans/experiments.py) — same
    # bounded-cardinality contract: every NLJ is a 1-row scalar
    # attach or a calendar/catalog-sized spine, never data x data
    "ams_f2_join_size_estimate",  # 1-row exact-F2 crossJoin onto 1-row sketch
    "permutation_test_value_diff",  # 1-row observed-statistic broadcast
    "cuped_adjusted_lift",        # 1-row time-midpoint broadcast
    "overdispersion_daily_counts",  # |days| x |types| grid (calendar x catalog)
    "local_clustering_coefficient",  # 1-row node-count crossJoin (graph gen)
    "hill_tail_index_values",     # 1-row boundary-rank broadcast onto 501-row frame
    "tukey_fences_outlier_days",  # 1-row total + 1-row fence crossJoins
    "cochran_armitage_trend",     # 1-row user-total attach on the count-value frame
    # round-13 capacity queries (plans/capacity.py)
    "partition_pruning_audit",    # 1-row max-day crossJoin onto the day frame
}

# Queries whose construction EXECUTES work (bounded streaming replays,
# iterative algorithms with eager checkpoints): plan text is not a
# cheap static artifact for them; they are covered by their own e2e
# value checks instead.
_EXECUTING = {
    name
    for name in QUERIES
    if name.startswith("streaming_") or name in {
        "dedup_cluster_components",  # iterative label propagation
        "pagerank_doc_links",        # per-superstep eager checkpoints
        "graph_bfs_hops",            # per-hop eager checkpoints
        "observed_clean_metrics",    # observation filled by an action
        "similarity_ivf_kmeans",     # Lloyd's iterations
        "synthetic_activity_stats",  # generator materializes via range
        "multi_format_federation",   # writes temp CSV/JSON at build time
        "bucketed_join_colocated",   # writes bucketed tables at build time
        "curation_pipeline_capstone",  # CC label propagation (eager checkpoints)
        "partition_pruned_scan",     # writes temp partitioned layout at build time
        "jdbc_parallel_read_ingest",  # lands a Derby table at build time
        "csv_corrupt_quarantine",    # writes temp CSV export at build time
        "dataset_checksum_compare",  # parquet round-trip at build time
        "global_sorted_export",      # collects partition bounds at build time
        "parquet_merge_schema_evolution",  # writes temp generations at build time
        "community_label_propagation",  # per-round eager checkpoints
        "orc_format_roundtrip",      # ORC round-trip at build time
        "dpp_partition_pruning_join",  # temp partitioned layout at build time
        "bloom_filter_join_proof",   # session-conf probe + bounded collect
        "aqe_coalesce_proof",        # needs the executed adaptive plan
        "cache_reuse_proof",         # persists + two bounded actions
        "kcore_decomposition",       # per-round eager checkpoints
        "gdpr_delete_propagation",   # bounded counts at build time
    }
}


def test_no_accidental_cartesian_anywhere(spark):
    """Global shuffle-hygiene sweep: no batch catalog query may
    contain a CartesianProduct, and any BroadcastNestedLoopJoin must
    be on the explicit whitelist of tiny-broadcast theta joins. An
    accidental cartesian is the classic silent 100 TB killer — this
    pins every query in one pass."""
    offenders = []
    for name, spec in QUERIES.items():
        if name in _EXECUTING:
            continue
        plan = spec.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _INTENTIONAL_NLJ:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, f"unexpected cartesian/NLJ plans: {offenders}"


def test_label_centroids_partial_agg_no_pandas(spark):
    """The centroid aggregation must be the map-side-combinable
    posexplode + groupBy(label, pos) shape: partial aggregation
    before the exchange, and NO FlatMapGroupsInPandas anywhere — the
    applyInPandas form it replaced shuffled every vector of a label
    into one pandas group (reducer OOM at 100 TB)."""
    plan = _plan(spark, "embedding_label_centroids")
    assert "partial_" in plan  # map-side combine of (label, pos) sums
    assert "FlatMapGroupsInPandas" not in plan
    # the array re-assembly path must stay pandas-free too
    from spark_flink_streaming_example_with_test_spark.operators.similarity import label_centroids
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    aplan = label_centroids(emb)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in aplan
    assert "partial_" in aplan


def test_per_source_cap_uses_window_group_limit(spark):
    """The per-source admission cap's rank filter must ride the
    WindowGroupLimit rewrite (partial per-mapper top-K before the
    shuffle, then final) — the shape that moves at most K rows per
    source per mapper instead of sorting every document."""
    plan = _plan(spark, "per_source_doc_cap")
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_topk_uses_window_group_limit(spark):
    """Top-k per key must ride the WindowGroupLimit physical
    optimization (partial per-partition top-k BEFORE the shuffle, so
    only k rows per key per mapper move) — losing it means shuffling
    the whole fact table just to keep 3 rows per customer."""
    plan = _plan(spark, "topk_orders_per_customer")
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_pack_token_budget_single_shard_shuffle(spark):
    """Packing must shuffle ONCE on the shard key: the window's
    hashpartitioning(source) also satisfies the downstream
    (source, pack_id) aggregate (subset clustering), and nothing may
    collapse to a single partition (the global-ORDER-BY cumsum
    trap)."""
    plan = _plan(spark, "pack_token_budget")
    assert "SinglePartition" not in plan
    # one shuffle: the window's hashpartitioning on source
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(source" in plan


def test_corpus_segment_dedup_hashed_keys_and_partial_agg(spark):
    """Segment frequency counting must combine map-side and shuffle
    hashed keys (xxhash64 longs), never segment text."""
    plan = _plan(spark, "corpus_segment_dedup")
    assert "partial_count" in plan
    assert "xxhash64" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_pq_codes_broadcast_codebook_no_smj(spark):
    """PQ assignment must ride the k-row broadcast codebook — no
    sort-merge join, no corpus-sized shuffle on the pair side; the
    only hash exchange is the final per-vector argmin aggregate."""
    plan = _plan(spark, "embedding_pq_codes")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan  # argmin folds map-side


def test_hybrid_rrf_inverted_probe_and_group_limits(spark):
    """The lexical leg must probe the token stream against the
    BROADCAST query-term set (inverted-index shape — the corpus-sized
    exploded token stream never shuffles on term for the semi-probe),
    and both legs' top-50 plus the fused top-10 must ride
    WindowGroupLimit so only k rows per query key per mapper move."""
    plan = _plan(spark, "hybrid_search_rrf")
    assert "BroadcastHashJoin" in plan
    assert plan.count("WindowGroupLimit") >= 4  # partial+final, >=2 windows


def test_pii_redaction_single_shuffle_partial_agg(spark):
    """The scrub is stateless per-row expression work: exactly one
    exchange (the final groupBy(source)) with map-side combine, and
    no UDF anywhere — regexp work stays JVM-side."""
    plan = _plan(spark, "pii_redaction_stats")
    assert plan.count("Exchange") == 1
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_prune_single_shuffle(spark):
    """Percentile pruning: the window's hashpartitioning(source)
    must also satisfy the downstream per-source aggregate — one
    shuffle total, nothing collapsing to a single partition."""
    plan = _plan(spark, "quality_prune_percentile")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_hll_union_partial_sketches(spark):
    """Distinct counting must ride mergeable partial sketches: the
    per-source hll_sketch_agg combines map-side (partial_ before the
    exchange), so only fixed-size sketch bytes shuffle — never raw
    token values."""
    plan = _plan(spark, "hll_sketch_union_tokens")
    assert "partial_hll_sketch_agg" in plan
    assert "partial_hll_union_agg" in plan


def test_cdc_chunks_single_doc_keyed_exchange(spark):
    """Content-defined chunking must shuffle ONCE on the doc key:
    the boundary-count window partitions by doc_id, and the
    (doc_id, chunk_id) re-assembly groupBy is satisfied by that same
    partitioning (subset clustering) — a second exchange means the
    chunk aggregation stopped riding the window's shuffle."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import cdc_chunks
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = (
        cdc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_countmin_probe_join_broadcasts_sketch(spark):
    """The CMS probe must broadcast the 1024-row sketch to the
    top-k probes — shuffling either side for a fixed-size summary
    join defeats the point of sketching."""
    plan = _plan(spark, "countmin_token_estimates")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rolling_wau_no_theta_join(spark):
    """Rolling WAU must stay on the contribution-explode equi plan:
    no BroadcastNestedLoopJoin (the day-spine BETWEEN join it
    replaces), and the spine restriction rides a left-semi join."""
    plan = _plan(spark, "rolling_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_quantile_normalize_no_single_task_source_sort(spark):
    """quantile_normalize_scores (reshaped round 8): sources are
    low-cardinality, so NO doc-level window may partition by source
    alone — that sends a whole source to one task at 100 TB. The
    doc-level row_number must partition by (source, raw); the only
    source-partitioned window rides the aggregated distinct-value
    frame (|distinct scores| rows per source)."""
    import re

    plan = _plan(spark, "quantile_normalize_scores")
    assert "SinglePartition" not in plan
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, "row_number window missing from plan"
    for ln in rn_lines:
        spec = ln.split("windowspecdefinition(", 1)[1]
        # partition-by columns precede the first ordered column:
        # (source, raw) partitioning means raw# appears before the
        # doc_id# ordering column.
        assert re.search(r"source#\d+, raw#\d+", spec), ln
    # the source-only window input is the (source, raw) aggregate,
    # not the doc-level frame
    assert re.search(r"HashAggregate\(keys=\[source#\d+, raw#\d+\]", plan)


def test_ngram_jaccard_df_cap_guard_in_plan(spark):
    """The exact-dedup df cap (round-8, the stop-gram twin of the
    LSH bucket cap) must stay in the plan: a gram-partitioned count
    window flags document frequency, and the flagged index is
    persisted so all four consumers (both join sides + both hot-set
    lookups) ride one materialization. Removing either silently
    restores the k^2 hot-gram hazard / the 2x recompute cost."""
    import re

    plan = _plan(spark, "dedup_ngram_jaccard")
    # df window partitioned by gram
    assert re.search(
        r"windowspecdefinition\(gram#\d+, specifiedwindowframe", plan
    ), "gram-df window missing — the df cap was removed"
    # persisted flagged index feeding the self-join
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, (
        "flagged gram index no longer persisted"
    )
