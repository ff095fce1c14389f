"""Physical-plan invariants as regression tests.

PLAN_AUDIT.md documents the plans; these tests FREEZE the properties that
matter at 100 TB, so a refactor that silently loses a broadcast, gains a
shuffle, or drops a pushdown fails CI instead of shipping a 10× regression.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tools.plan_audit import audit

QUERIES = entry_mod.queries()
SF = "/root/testdata/sf0.001"


def props(name, spark):
    return audit(name, QUERIES[name], spark, SF)


def test_q1_single_shuffle(spark):
    """Scan → partial agg → exchange → final agg: exactly one shuffle."""
    a = props("q1_pricing_summary", spark)
    assert a["exchanges"] == 1
    assert a["scans"] == 1 and a["pushed_filters"] == 1


def test_q8_no_sort_merge_join(spark):
    """Every dimension side of the 8-table join stays broadcast."""
    a = props("q8_market_share", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 4


def test_mask_projection_no_shuffle(spark):
    """Masking is a pure projection — zero exchanges — and under the
    HmacSHA512 codec the mask functions are JVM UDFs: no Python operator.
    (r08: the registered q_mask_customers wraps this detail frame in a
    hash-oracled property audit, which aggregates — the projection
    invariant lives on the detail frame the pipeline actually ships.)"""
    from arc_maskdata_pipeline_plugin_spark.plans.masking_queries import (
        q_mask_customers_detail,
    )

    a = audit("q_mask_customers_detail", q_mask_customers_detail, spark, SF)
    assert a["exchanges"] == 0
    assert a["python_ops"] == 0
    # and the audit wrapper stays join-free (one aggregate + broadcast)
    b = props("q_mask_customers", spark)
    assert b["sort_merge_joins"] == 0
    assert b["python_ops"] == 0


def test_jaccard_no_joins_bounded_shuffles(spark):
    """The one-linear-lineage Jaccard: no join operators, ≤4 shuffles, 1 scan."""
    a = props("dedup_jaccard_pairs", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["exchanges"] <= 4


def test_minhash_single_scan(spark):
    """Signature pipeline computed once (group-then-enumerate, not self-join)."""
    a = props("dedup_minhash_pairs", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0


def test_text_ops_stay_jvm_side(spark):
    """Quality scoring is whole-stage-codegen JVM work: no Python, no shuffle."""
    a = props("text_quality_scores", spark)
    assert a["python_ops"] == 0
    assert a["exchanges"] == 0


def test_multimodal_stays_partition_local(spark):
    """mapInPandas feature extraction adds no shuffle."""
    a = props("q_multimodal_features", spark)
    assert a["exchanges"] == 0
    assert a["python_ops"] == 1


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q14_promo_revenue", "q19_disjunctive_revenue"],
)
def test_filters_reach_every_scan(spark, name):
    """Filtered fact queries: every parquet scan carries pushed filters."""
    a = props(name, spark)
    assert a["pushed_filters"] >= 1
    assert a["scans"] >= 1


def test_pii_scrub_zero_shuffle(spark):
    """Chained regexp redaction is a pure projection."""
    a = props("q_pii_scrub", spark)
    assert a["exchanges"] == 0 and a["python_ops"] == 0
    assert a["scans"] == 1


def test_sequence_packing_single_window_shuffle(spark):
    """Running-total packing: one shuffle (the per-source window), no joins."""
    a = props("q_sequence_packing", spark)
    assert a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0


def test_embedding_passes_projection_only(spark):
    for q in ("q_embedding_normalize", "q_embedding_quantize_int8"):
        a = props(q, spark)
        assert a["exchanges"] == 0, q
        assert a["python_ops"] == 0, q


def test_ivf_assignment_uses_partial_max_by(spark):
    """Assignment must partial-aggregate map-side (max_by), never sort-shuffle
    corpus×n_cells rows through a row_number window."""
    import __spark_entry__ as m
    from arc_maskdata_pipeline_plugin_spark.operators.similarity import (
        ivf_assignments,
        ivf_centroids,
    )
    from arc_maskdata_pipeline_plugin_spark.plans.registry import T

    e = T(spark, SF, "embeddings")
    plan = (
        ivf_assignments(e, ivf_centroids(e))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_scd2_merge_bounded_shuffles(spark):
    """SCD2: key-join screen + window — no broadcast of the dimension side."""
    a = props("q_scd2_customer_merge", spark)
    assert a["sort_merge_joins"] <= 1
    assert a["exchanges"] <= 4


def test_decontamination_broadcasts_benchmark_side(spark):
    """The benchmark n-gram index must broadcast (eval suites are tiny
    against a 100 TB corpus); the train side never sort-merge-joins."""
    a = props("q_decontaminate_ngrams", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_rebalance_thresholds_broadcast(spark):
    """Data-driven mix thresholds: tiny aggregates re-join as broadcasts —
    the corpus itself is never the build side and never sort-merge-joined."""
    a = props("q_domain_mix_rebalance", spark)
    assert a["broadcasts"] >= 2
    assert a["sort_merge_joins"] == 0


def test_percentile_gate_single_corpus_shuffle(spark):
    """Threshold via scalar aggregate + broadcast, not a global window:
    exactly one non-single-partition exchange (the percentile partials)."""
    a = props("q_quality_percentile_filter", spark)
    assert a["exchanges"] <= 1
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0


def test_shard_assignment_one_shuffle(spark):
    """Shard+position costs exactly the one shuffle the sharded write needs
    (repartition by shard; in-shard sort is partition-local)."""
    a = props("q_training_shards", spark)
    assert a["exchanges"] == 1
    assert a["python_ops"] == 0


def test_bm25_broadcasts_query_side(spark):
    """Query terms / term stats / scalars all broadcast; the corpus never
    sort-merge-joins. Postings + (query, doc) aggregation are the only big
    shuffles."""
    a = props("q_bm25_search", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 4
    assert a["python_ops"] == 0


def test_pq_adc_scan_is_broadcast_only(spark):
    """PQ: codebooks and per-query ADC tables broadcast onto the codes
    relation — the compressed-code scan must not shuffle the corpus into a
    sort-merge join, and the whole path stays JVM-side."""
    a = props("sim_ann_pq", spark)
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_bloom_screen_filter_broadcast(spark):
    """The Bloom filter's distinct-positions set is broadcast-sized by
    construction (≤ m rows) — probing must broadcast it, never shuffle the
    probe side against it."""
    a = props("q_bloom_dedup_screen", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 1
    assert a["python_ops"] == 0


def test_retrieval_family_stays_jvm_side(spark):
    """Tokenization and scoring are expression work — no Python operators
    anywhere in the retrieval family."""
    for name in ("q_inverted_index", "q_tfidf_top_terms", "q_unigram_logprob"):
        assert props(name, spark)["python_ops"] == 0, name


def test_privacy_audits_single_aggregate(spark):
    """k-anonymity/l-diversity audits: one hash-aggregate shuffle, no joins,
    all-JVM — the cheapest possible full-table risk statistic."""
    for name in ("q_k_anonymity_audit", "q_l_diversity_audit"):
        a = props(name, spark)
        assert a["exchanges"] <= 2, name  # count-distinct may expand to two
        assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0, name
        assert a["python_ops"] == 0, name


def test_privacy_suppression_one_window_shuffle(spark):
    """Enforcement pays the same single QI shuffle as the audit (an unordered
    COUNT window), never a join back against a class table."""
    a = props("q_k_anonymity_suppress", spark)
    assert a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


def test_zorder_audit_is_one_aggregate(spark):
    """Morton codes are pure bit arithmetic in codegen; the cluster audit is
    a single map-side-combined aggregate over the scan."""
    a = props("q_zorder_layout", spark)
    assert a["exchanges"] == 1
    assert a["python_ops"] == 0
    assert a["scans"] == 1


def test_outlier_screen_broadcasts_moments(spark):
    """The 5-row moment table must broadcast back onto the spend frame —
    never a sort-merge join against per-customer spend."""
    a = props("q_outlier_customers", spark)
    assert a["broadcasts"] >= 1
    assert a["python_ops"] == 0


def test_quality_audit_stays_jvm_side(spark):
    a = props("q_data_quality_audit", spark)
    assert a["python_ops"] == 0
    assert a["sort_merge_joins"] == 0  # FK anti-join broadcasts the key column


def test_interpolation_windows_run_on_grid_not_events(spark):
    """The only fact-table shuffle is the hourly aggregation; the dense grid
    joins via broadcast and the last/next windows sort grid-sized frames."""
    a = props("q_gap_fill_interpolate", spark)
    assert a["broadcasts"] >= 1
    assert a["python_ops"] == 0
    assert a["sort_merge_joins"] == 0


def test_card_masking_is_projection_plus_udf(spark):
    """Format-preserving card masking: zero shuffles — one Arrow-batched
    Python op (the KDF), nothing else."""
    a = props("q_mask_credit_cards", spark)
    assert a["exchanges"] == 0
    assert a["python_ops"] == 1


def test_mask_pipeline_stage_single_projection(spark):
    """The flagship metadata-driven stage: zero shuffles, one Arrow-batched
    Python op per masked column, pushdown intact below the UDF boundary."""
    a = props("q_mask_pipeline_stage", spark)
    assert a["exchanges"] == 0
    assert a["python_ops"] >= 1
    assert a["pushed_filters"] >= 1  # the custkey filter reaches the scan


def test_rolling_window_runs_on_daily_aggregate(spark):
    """The RANGE window sorts the calendar-sized daily frame, not orders."""
    a = props("q_rolling_revenue_7d", spark)
    assert a["scans"] == 1
    assert a["python_ops"] == 0
    assert a["exchanges"] <= 2  # daily aggregate + the single-partition window


def test_funnel_and_cohort_never_self_join_events(spark):
    """Stage frames are user-sized; events appear in the plan once per stage
    filter but are never sort-merge-joined against themselves unbounded."""
    for name in ("q_funnel_conversion", "q_cohort_retention"):
        a = props(name, spark)
        assert a["python_ops"] == 0, name


def test_correlation_single_scan_single_aggregate(spark):
    a = props("q_feature_correlation", spark)
    assert a["scans"] == 1
    assert a["exchanges"] == 0  # only the SinglePartition gather of 1 row
    assert a["python_ops"] == 0


def test_histogram_bounds_broadcast(spark):
    a = props("q_value_histogram", spark)
    assert a["broadcasts"] >= 1
    assert a["python_ops"] == 0


def test_temperature_mix_corpus_never_shuffles_rows(spark):
    """Only aggregates shuffle; the target table broadcasts back."""
    a = props("q_temperature_mix", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_rag_index_build_single_shuffle(spark):
    """Chunk + embed + quantize are partition-local; only the cell histogram
    aggregates (count-distinct expands to two exchanges at most)."""
    a = props("q_rag_index_build", spark)
    assert a["exchanges"] <= 2
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


def test_corpus_e2e_single_corpus_shuffle(spark):
    """Clean+gate+dedup+mix+shard in one lineage: the dedup key shuffle is
    the ONLY corpus-sized exchange; mix targets broadcast back."""
    a = props("q_corpus_prepare_e2e", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_mad_outliers_broadcast_medians(spark):
    """Both per-group median frames broadcast back onto events; the events
    table shuffles only for the two percentile aggregates."""
    a = props("q_mad_outliers", spark)
    assert a["broadcasts"] >= 2
    assert a["sort_merge_joins"] == 0


def test_group_ols_single_shuffle(spark):
    """All five OLS moments in one grouped multi-aggregate: one exchange."""
    a = props("q_group_ols", spark)
    assert a["scans"] == 1
    assert a["exchanges"] == 1


def test_embedding_covariance_one_pass(spark):
    """44 moments in a single global aggregate — only SinglePartition
    exchanges (excluded from the count), zero joins, zero Python."""
    a = props("q_embedding_covariance", spark)
    assert a["scans"] == 1
    assert a["exchanges"] == 0
    assert a["python_ops"] == 0


def test_gdpr_erasure_all_broadcast_anti(spark):
    """Erasure + leak recount on three tables: every requester join is a
    broadcast (anti/semi) — fact tables never shuffle on the key."""
    a = props("q_gdpr_erasure_audit", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 6  # (anti + semi) x 3 tables


def test_word_pmi_no_cross_join(spark):
    """Pair enumeration is a doc_id equi-join of the capped doc-word frame
    (plus the scalar n_docs broadcast) — no cartesian, no corpus self-join;
    the 4-consumer capped frame reads from cache (the plan-string repeats
    the cached relation's BUILD subtree per consumer, so raw scan counts
    overstate — the InMemoryTableScans are what executes)."""
    plan = QUERIES["q_word_pmi"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 4
    a = props("q_word_pmi", spark)
    assert a["sort_merge_joins"] == 0 or a["broadcasts"] >= 1


def test_hybrid_rrf_fuses_candidate_frames(spark):
    """RRF fusion joins two candidate lists (queries x depth); the corpus
    appears only inside each ranker — no sort-merge join of doc-sized
    frames against each other at the fuse step."""
    a = props("q_hybrid_rrf_search", spark)
    assert a["broadcasts"] >= 2  # query terms + query vectors broadcast


def test_max_concurrent_day_sharded_windows(spark):
    """The sweep runs per (type, day): the only non-trivial exchanges are
    the two hash repartitions for the day window and the day-aggregate
    carry window, plus the final per-type aggregate."""
    a = props("q_max_concurrent_sessions", spark)
    assert a["scans"] == 1
    assert a["exchanges"] <= 4
    assert a["sort_merge_joins"] == 0


def test_bpe_encode_vocab_join_no_corpus_merge_loop(spark):
    """Encoding joins the corpus tokens against the trained vocab map —
    Python-free, and the join is corpus-tokens vs vocabulary-sized frame."""
    a = props("q_bpe_encode", spark)
    assert a["python_ops"] == 0


def test_pit_scd2_broadcast_dimension(spark):
    """The versioned dimension broadcasts; events never shuffle before the
    final aggregate (one exchange for the groupBy)."""
    a = props("q_pit_scd2_enrich", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0


def test_triangle_count_reuses_cached_edges(spark):
    """Edges build once (cached for the three consumers); wedge closing is
    equi-joins — no cartesian."""
    plan = (
        QUERIES["q_triangle_count"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3


def test_dau_wau_grid_broadcast(spark):
    """The day grid broadcasts onto the user-day frame (range join)."""
    a = props("q_dau_wau_stickiness", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0


def test_first_touch_no_event_self_join(spark):
    """Both attribution sides are user-sized aggregates before the join;
    events scanned once... (scan counted per filter branch is fine — what's
    frozen is the absence of an event-grain join)."""
    a = props("q_first_touch_attribution", spark)
    assert a["sort_merge_joins"] + a["broadcasts"] >= 1  # the user-key join
    assert a["python_ops"] == 0


def test_phash_partition_local(spark):
    """Decode+hash ride the scan: mapInPandas present, and no exchange other
    than the local[] spread repartition."""
    a = props("q_multimodal_phash", spark)
    assert a["python_ops"] >= 1
    assert a["exchanges"] <= 1  # only the spread() round-robin on local


# ---------------------------------------------------------------------------
# round-4 additions: containment, span dedup, drift KL, transitions, EWMA,
# compaction
# ---------------------------------------------------------------------------


def test_containment_shares_jaccard_shape(spark):
    """Same one-lineage group-then-enumerate machinery as Jaccard: no join
    operators, bounded shuffles, one scan."""
    a = props("dedup_containment_pairs", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["exchanges"] <= 4


def test_span_dedup_semi_join_broadcasts(spark):
    """The duplicated-hash set is small -> its rejoin onto spans must stay a
    broadcast semi join, never a sort-merge over the corpus; island merging
    is windows, not joins."""
    a = props("q_substring_span_dedup", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_span_dedup_spans_cached_once(spark):
    """Span hashing (the expensive md5 explode) is persisted: both consumers
    read the cache instead of re-scanning the corpus."""
    plan = (
        QUERIES["q_substring_span_dedup"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2


def test_drift_kl_counts_cached_once(spark):
    """The (source, term) count frame feeds three consumers from cache; all
    vocab-sized joins stay broadcast."""
    plan = (
        QUERIES["q_corpus_drift_kl"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 3
    a = props("q_corpus_drift_kl", spark)
    assert a["sort_merge_joins"] == 0
    assert a["python_ops"] == 0


def test_event_transitions_single_user_shuffle(spark):
    """One shuffle on user_id for the LAG window; the |types|^2 close-out
    aggregation adds at most two trivia-sized exchanges."""
    a = props("q_event_transitions", spark)
    assert a["scans"] == 1
    assert a["exchanges"] <= 3
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_ewma_joins_calendar_frames_only(spark):
    """The trailing-window self-join runs on the cached calendar-sized daily
    aggregate (broadcast), never on the fact table."""
    plan = (
        QUERIES["q_ewma_daily_value"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2
    a = props("q_ewma_daily_value", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 1


def test_compaction_plan_one_shuffle(spark):
    """Planner = one partition-key shuffle; cumsum window and bin aggregate
    are co-partitioned on it."""
    a = props("q_compaction_plan", spark)
    assert a["scans"] == 1
    assert a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_t_closeness_broadcast_grid(spark):
    """Marginals/total frames broadcast onto the class frame; the only
    corpus-sized step is the (QI, sensitive) hash aggregate."""
    a = props("q_t_closeness_audit", spark)
    assert a["broadcasts"] >= 2
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_table_fingerprint_single_aggregate(spark):
    """Checksum = one scan, one map-side-combined shuffle, nothing else."""
    a = props("q_table_fingerprint", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_ngram_diversity_bounded_shuffles(spark):
    """Bigram explode is partition-local; the distinct-count expand adds at
    most two exchanges over the (source, bigram) aggregate."""
    a = props("q_ngram_diversity", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 3
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_weighted_sample_is_topk_not_global_sort(spark):
    """A-ES sampling must execute as TakeOrderedAndProject (per-partition
    top-k heap + k-sized merge), never a full corpus sort."""
    plan = (
        QUERIES["q_weighted_sample"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    a = props("q_weighted_sample", spark)
    assert a["exchanges"] == 0 and a["python_ops"] == 0


def test_hll_overlap_broadcast_sketch_pairs(spark):
    """Pair math runs on the broadcast |types|-row sketch table; the only
    corpus step is the per-type sketch aggregate."""
    a = props("q_hll_audience_overlap", spark)
    assert a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_lateral_topk_decorrelates(spark):
    """The correlated LATERAL subquery must decorrelate into a join + rank —
    never a per-outer-row nested loop (no CartesianProduct); the segment
    filter reaches the customer scan."""
    plan = (
        QUERIES["q_lateral_top_orders"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    a = props("q_lateral_top_orders", spark)
    assert a["pushed_filters"] >= 1
    assert a["sort_merge_joins"] == 0


def test_pareto_no_quadratic_self_join(spark):
    """Skyline via the level-frame running max — never a NOT-EXISTS
    dominance self-join (no cartesian, bounded exchanges)."""
    plan = (
        QUERIES["q_pareto_orders"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    a = props("q_pareto_orders", spark)
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0
    assert a["exchanges"] <= 6


def test_quantile_normalize_broadcast_cdf(spark):
    """The value-level CDF broadcasts onto the ranked corpus (range probe);
    no corpus-wide sort-merge join, no global sort of docs."""
    a = props("q_quantile_normalize", spark)
    assert a["broadcasts"] >= 2
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_benford_one_corpus_aggregate(spark):
    """Digit histogram = one map-side-combined aggregate; the 9-row digit
    frame joins broadcast with the count scalar."""
    a = props("q_benford_audit", spark)
    assert a["exchanges"] <= 2 and a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_sequence_gaps_single_aggregate(spark):
    """Completeness audit: one scan, one shuffle, no windows over the key
    space."""
    a = props("q_sequence_gaps", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1


def test_user_journeys_single_user_shuffle(spark):
    """Ordering window and path fold share the user_id partitioning; only
    the |types|^3-bounded path count adds an exchange."""
    a = props("q_user_journeys", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 2
    assert a["sort_merge_joins"] == 0


def test_revenue_concentration_customer_sized_windows(spark):
    """Fact collapses to the per-customer aggregate before any window; the
    dim broadcasts."""
    a = props("q_revenue_concentration", spark)
    assert a["broadcasts"] >= 1 and a["sort_merge_joins"] == 0
    assert a["exchanges"] <= 3


def test_zipf_slope_single_term_shuffle(spark):
    """Term count is the only data-sized shuffle; the 100-row regression
    frame is free."""
    a = props("q_zipf_slope", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 2
    assert a["python_ops"] == 0


def test_frequent_itemsets_basket_bounded(spark):
    """Pair enumeration joins basket-to-basket on the ORDER key (equi-join,
    no cartesian); item supports broadcast."""
    plan = (
        QUERIES["q_frequent_itemsets"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    a = props("q_frequent_itemsets", spark)
    assert a["broadcasts"] >= 2 and a["python_ops"] == 0


def test_neyman_broadcast_allocation(spark):
    """The |strata|-sized allocation table broadcasts onto the per-stratum
    rank window; one moments pass + one rank shuffle."""
    a = props("q_neyman_sample", spark)
    assert a["broadcasts"] >= 2
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_scene_cuts_partition_local_explode(spark):
    """Frame explode rides the scan in Python; only the per-video window
    shuffles."""
    a = props("q_multimodal_scene_cuts", spark)
    assert a["python_ops"] >= 1
    assert a["exchanges"] <= 2


def test_phrase_search_broadcast_queries(spark):
    """The phrase table broadcasts; postings are cached for both phrase
    sides (corpus tokenized once)."""
    plan = (
        QUERIES["q_phrase_search"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2
    a = props("q_phrase_search", spark)
    assert a["broadcasts"] >= 1 and a["python_ops"] == 0


def test_snm_no_self_join(spark):
    """SNM candidates come from LEAD windows over one ordering — no join
    operators at all, bounded exchanges."""
    a = props("dedup_sorted_neighborhood", spark)
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


# ---------------------------------------------------------------------------
# round-6 late batches: monitoring / experimentation / marketing analytics
# ---------------------------------------------------------------------------


def test_psi_no_fact_sized_join(spark):
    """Both halves bucket against broadcast boundary arrays; the grid
    zero-fill joins TINY aggregated counts — never the raw assignment."""
    a = props("q_psi_drift", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 2 and a["python_ops"] == 0


def test_bootstrap_single_aggregate(spark):
    """32 replicates = 64 conditional sums in ONE map-side-combined
    aggregate: one scan, one exchange, no joins."""
    a = props("q_poisson_bootstrap_ci", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0


def test_experimentation_one_pass_aggregates(spark):
    """CUPED / power analysis / abandonment: single scan, bounded
    exchanges, zero joins beyond broadcasts."""
    for name, max_ex in [
        ("q_cuped_adjustment", 2),
        ("q_power_analysis", 1),
        ("q_abandonment_detection", 1),
    ]:
        a = props(name, spark)
        assert a["scans"] == 1, name
        assert a["exchanges"] <= max_ex, name
        assert a["sort_merge_joins"] == 0, name


def test_marketing_frames_stay_small(spark):
    """Gini / RFM / LTV: the fact table collapses to user- or calendar-
    grain frames before any window; dims broadcast."""
    for name in ["q_gini_concentration", "q_rfm_segments", "q_cohort_ltv_curve"]:
        a = props(name, spark)
        assert a["sort_merge_joins"] == 0, name
        assert a["python_ops"] == 0, name


def test_rfm_no_frame_wide_sort(spark):
    """VERDICT r04 #3: the three NTILE(5) windows over the full buyer frame
    are gone — quintiles come from distinct-value cumulative counts plus a
    value-PARTITIONED row_number. No ntile anywhere, and no unpartitioned
    window may order by user_id (the signature of a frame-wide sort; the
    remaining unpartitioned windows run on distinct-METRIC frames only)."""
    import re

    df = QUERIES["q_rfm_segments"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    # Window node shape: `Window [fns], [partitionSpec], [orderSpec]`
    for fns, part, order in re.findall(
        r"Window (\[[^\]]*\]), \[([^\]]*)\], \[([^\]]*)\]", plan
    ):
        if not part.strip():
            assert "user_id" not in order, (
                "unpartitioned window sorts the full buyer frame: " + order
            )


def test_curation_family_shapes(spark):
    """Round-7 curation ops keep their scale shapes: boilerplate set and
    unigram LMs broadcast back onto corpus-sized frames (no corpus-sized
    sort-merge joins), DSIR's top-k is TakeOrderedAndProject — never a
    global sort — and everything stays JVM-side."""
    for name in [
        "q_boilerplate_segments",
        "q_perplexity_filter",
        "q_dsir_importance",
        "q_ngram_novelty",
    ]:
        a = props(name, spark)
        assert a["python_ops"] == 0, name
        assert a["scans"] >= 1, name
    df = QUERIES["q_dsir_importance"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    bp = QUERIES["q_boilerplate_segments"](spark, SF)
    plan_bp = bp._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bp or "BroadcastExchange" in plan_bp


def test_round7_late_additions_shapes(spark):
    """Freeze the scale shapes of the late round-7 operators: pure-JVM
    expression pipelines with bounded shuffles, no corpus-sized sorts."""
    for name, max_ex in [
        ("q_feature_hashing", 2),     # tokenize+hash ride the scan
        ("q_embedding_drift", 2),     # one (label, half) multi-aggregate
        ("q_rolling_retention_d7", 5),  # user-day distinct + LEAD + daily agg (+1 under AQE variations)
        ("q_epoch_shuffle", 9),       # 2-epoch explode + counts + overlap join
    ]:
        a = props(name, spark)
        assert a["python_ops"] == 0, name
        assert a["exchanges"] <= max_ex, (name, a["exchanges"])
        assert a["sort_merge_joins"] == 0, name


def test_theil_sen_pairs_on_calendar_frame(spark):
    """The O(days^2) pair join must consume the DAILY aggregate, not raw
    events: the slope join's inputs are aggregates (every scan feeds a
    groupBy before any join)."""
    import re

    df = QUERIES["q_theil_sen_trend"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # raw-event self-join would put two event-scan subtrees under one
    # SortMergeJoin/BroadcastHashJoin without intervening HashAggregate
    assert "CartesianProduct" not in plan
    a = props("q_theil_sen_trend", spark)
    assert a["python_ops"] == 0


# ---- round 6: nonparametric stats / ML-prep / CDC / link prediction ----


def test_ks_single_scan_single_shuffle(spark):
    """KS collapses to the distinct-value frame, now persisted for the
    two-phase cumulative sums (r10): the plan STRING repeats the cached
    build subtree per consumer, so flat scan/exchange counts are inflated
    (the documented persisted-plan effect — runtime scans the parquet
    once to build the cache). Assert the inflation-insensitive
    invariants; the no-global-window seam is frozen in
    tests/test_plan_invariants_r10.py."""
    a = props("q_ks_test", spark)
    assert a["pushed_filters"] == a["scans"]  # every repeat kept pushdown
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_mann_whitney_single_scan(spark):
    """Same persisted-plan counter inflation as q_ks_test (r10)."""
    a = props("q_mann_whitney", spark)
    assert a["pushed_filters"] == a["scans"]
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_chi_square_each_table_scanned_once(spark):
    """Contingency stats: 3 tables, 3 scans (no dims re-derivation),
    dimension joins broadcast."""
    a = props("q_chi_square_cramers_v", spark)
    assert a["scans"] == 3
    assert a["sort_merge_joins"] == 0


def test_mutual_information_one_shuffle(spark):
    a = props("q_mutual_information", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_target_encoding_one_partial_aggregate(spark):
    """OOF encoding never re-scans per fold: one scan, agg + window."""
    a = props("q_target_encoding", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 2
    assert a["sort_merge_joins"] == 0


def test_woe_iv_broadcast_dims(spark):
    a = props("q_woe_iv", spark)
    assert a["scans"] == 3
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] >= 2


def test_calibration_two_scans_no_sort(spark):
    """Min/max probe + binning: the fact table is scanned twice, joined
    only by broadcast, never sorted."""
    a = props("q_calibration_ece", spark)
    assert a["scans"] == 2 and a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0


def test_url_dedup_pure_projection_plus_groupby(spark):
    a = props("q_url_canonical_dedup", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_cdc_apply_keyed_join_no_python(spark):
    """Window + apply share the customer key; two table scans total."""
    a = props("q_cdc_apply", spark)
    assert a["scans"] == 2 and a["python_ops"] == 0
    assert a["exchanges"] <= 3


def test_adamic_adar_no_self_join(spark):
    """Pair enumeration is array-local inside each order's supplier set —
    the plan must contain NO sort-merge join (a corpus self-join here is
    the quadratic blowup the degree cap exists to prevent)."""
    a = props("q_adamic_adar", spark)
    assert a["sort_merge_joins"] == 0
    assert a["scans"] <= 2  # pairs + the dropped-orders audit branch
    assert a["python_ops"] == 0


def test_dp_quantile_histogram_shape(spark):
    """Broadcast min/max probe + one shuffle to the 64-bin histogram; the
    noisy-CDF walk stays on those 64 rows."""
    a = props("q_dp_quantile", spark)
    assert a["scans"] == 2 and a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_schema_drift_single_scan(spark):
    """Both eras profile in ONE scan via conditional aggregates — an
    old/new self-join would double the 100 TB read."""
    a = props("q_schema_drift_audit", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_rbo_rides_ranker_frames(spark):
    """RBO adds no corpus-shaped work beyond the two rankers: everything
    after them is literal-grid-sized. Bound matches the ndcg/rrf family."""
    a = props("q_rank_biased_overlap", spark)
    assert a["sort_merge_joins"] <= 2 and a["python_ops"] == 0


def test_kmv_bounded_branches(spark):
    """Three deliberate passes (daily-sketch path, direct-sketch witness,
    exact audit) and nothing quadratic; everything after the distinct is
    (k · days)-sized."""
    a = props("q_kmv_distinct_merge", spark)
    assert a["scans"] <= 3
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_geo_join_broadcasts_small_side(spark):
    """Grid-cell join: the replicated supplier side broadcasts; no
    sort-merge join, no Python, one aggregate exchange."""
    a = props("q_geo_proximity_join", spark)
    assert a["scans"] == 2 and a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 1 and a["python_ops"] == 0


def test_graph_jaccard_no_self_join_broadcast_degrees(spark):
    """Same capped array-local pair enumeration as Adamic-Adar; the degree
    frames join by broadcast onto the pair-sized frame."""
    a = props("q_graph_jaccard_similarity", spark)
    assert a["sort_merge_joins"] == 0
    assert a["broadcasts"] >= 2 and a["python_ops"] == 0


def test_bonferroni_one_corpus_aggregate(spark):
    """One map-side-combined (type, cohort) aggregate ends the corpus
    path; everything after is |metrics|-sized."""
    a = props("q_bonferroni_ab_screen", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 3
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_watermark_lateness_keyed_windows_only(spark):
    """Timeline reconstruction is a PER-TYPE arrival-ordered window (the
    sessionize discipline) — no global sort, no Python."""
    a = props("q_watermark_lateness_audit", spark)
    assert a["sort_merge_joins"] <= 1  # stats ⋈ thresholds on the type key
    assert a["python_ops"] == 0


def test_kruskal_wallis_distinct_value_seam(spark):
    """The corpus collapses to the distinct-value count frame; rank
    algebra runs there via the two-phase cumsum (r10: the per-value frame
    is persisted, so flat counters are string-inflated — see q_ks_test).
    No shuffled joins, no Python; the no-global-window seam is frozen in
    tests/test_plan_invariants_r10.py."""
    a = props("q_kruskal_wallis", spark)
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_anova_one_corpus_aggregate(spark):
    """Sufficient-statistics reduction: one map-side-combined aggregate
    ends the corpus path; |types|-sized thereafter."""
    a = props("q_anova_f", spark)
    assert a["scans"] == 1 and a["exchanges"] <= 2
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_spearman_windows_partitioned(spark):
    """Per-nation rank windows: no unpartitioned corpus sort. The plan may
    shuffle for the customer⋈spend join + nation windows, but never a
    single-partition Exchange over the corpus."""
    a = props("q_spearman_corr", spark)
    assert a["scans"] == 2 and a["python_ops"] == 0


def test_bh_fdr_one_corpus_aggregate(spark):
    """Same corpus shape as Bonferroni: one (type, cohort) aggregate; the
    BH step-up window runs on the |metrics|-sized frame."""
    a = props("q_bh_fdr_screen", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_pettitt_daily_frame_only(spark):
    """One daily aggregate ends the corpus path; every window after is
    partitioned by event type over calendar-daily rows."""
    a = props("q_pettitt_changepoint", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_nelson_aalen_duration_grain_after_user_agg(spark):
    """Corpus → per-user agg → duration frame; same shape as KM. No
    Python, dims broadcast (horizon)."""
    a = props("q_nelson_aalen", spark)
    assert a["python_ops"] == 0
    assert a["broadcasts"] >= 1


def test_acf_calendar_join_on_daily_frame(spark):
    """One daily aggregate ends the corpus path; the lag-7 self-join and
    totals run on the persisted calendar-sized frame with the |types|-row
    totals broadcast. (Scan/exchange counts are inflated by the persist's
    repeated build subtree — assert the broadcast + no-Python shape.)"""
    a = props("q_acf_daily", spark)
    assert a["python_ops"] == 0
    assert a["broadcasts"] >= 1


def test_hits_round_shape(spark):
    """r13 shape: the per-half-step eager localCheckpoints and 1-row
    broadcast totals are GONE — each half-step normalizes via a
    single-partition window over its own node-sized aggregate, and the
    whole 4-iteration recurrence is one lazy plan (the edge-persist
    subtree repeats per iteration in the STATIC string, so scan counts
    are plan-noise; at runtime the InMemoryRelation serves every join).
    Freeze: no Python anywhere, and the 8 per-half-step normalization
    windows are present (2 per iteration — the plan would lose them only
    if the recurrence were truncated or rewritten)."""
    a = props("q_hits_authorities", spark)
    assert a["python_ops"] == 0
    df = QUERIES["q_hits_authorities"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 8
    assert "TakeOrderedAndProject" in plan  # top-25 is not a global sort


def test_clustering_coefficient_oriented_wedges(spark):
    """Same degree-oriented wedge machinery as q_triangle_count: adjacency
    arrays intersect JVM-side; no Python ops anywhere."""
    a = props("q_clustering_coefficient", spark)
    assert a["python_ops"] == 0


def test_readability_pure_expressions_one_aggregate(spark):
    """Per-row regex counts + one map-side-combined aggregate; no joins,
    no Python, single scan."""
    a = props("q_readability_scores", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_rake_no_corpus_joins(spark):
    """Token explode → doc-partitioned phrase windows → one word shuffle →
    top-k. Zero joins, zero Python."""
    a = props("q_rake_keywords", spark)
    assert a["scans"] == 1
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


def test_class_downsample_broadcast_probe_two_scans(spark):
    """Class counts broadcast into one linear pass — no corpus shuffle
    beyond the final 2-row aggregate, no SMJ, no Python."""
    a = props("q_class_downsample", spark)
    assert a["scans"] == 2 and a["broadcasts"] >= 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_fd_audit_stacked_aggregates_no_joins(spark):
    """Each FD: two stacked key aggregates over its own table; the union
    never joins anything."""
    a = props("q_fd_violation_audit", spark)
    assert a["scans"] == 4  # one per declared FD table
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


def test_item_cooccurrence_partition_local_pairs(spark):
    """Pair enumeration explodes capped basket arrays partition-locally —
    never a corpus self-join; item counts come back by join at pair grain.
    (Persist inflates scan counters; freeze no-Python.)"""
    a = props("q_item_cooccurrence", spark)
    assert a["python_ops"] == 0


def test_hilbert_single_scan_one_aggregate_no_python(spark):
    """The unrolled level chain fuses into projections: one scan, one
    aggregate exchange, zero Python, no joins."""
    a = props("q_hilbert_layout", spark)
    assert a["scans"] == 1 and a["exchanges"] == 1
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_prf_feedback_frame_broadcasts(spark):
    """The |queries|·k feedback frame and query-term exclusion broadcast
    onto the postings probe; the corpus never sort-merge-joins."""
    a = props("q_prf_expansion", spark)
    assert a["broadcasts"] >= 3
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0


def test_ldp_frequency_two_pass_no_smj(spark):
    """One persisted O(1)-row stats probe feeds BOTH broadcast consumers
    (the plan string repeats the cached subtree, so the textual scan count
    is 3, but execution reads the corpus twice: stats + mechanism pass).
    The corpus never sort-merge-joins and the mechanism stays JVM-side."""
    a = props("q_ldp_frequency", spark)
    assert a["sort_merge_joins"] == 0 and a["python_ops"] == 0
    assert a["broadcasts"] == 2
    assert a["scans"] <= 3


def test_markov_transitions_one_scan_three_exchanges(spark):
    """Bigrams from ONE user-keyed window exchange, then the pair aggregate
    and the |types|^2-frame row-total window — 3 exchanges total, no joins,
    4 columns read, all JVM."""
    a = props("q_markov_transitions", spark)
    assert a["scans"] == 1 and a["read_cols"] == ["4"]
    assert a["exchanges"] <= 3
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] == 0
    assert a["python_ops"] == 0


def test_group_kfold_pruned_scan_no_joins(spark):
    """Corpus collapses in ONE user-keyed aggregate reading only
    (user_id, event_type); fold rollup + spanning audit run on the
    persisted user-sized frame (its build subtree repeats in the plan
    string — 2 'scans'), and the audit comes back as a broadcast. No
    sort-merge join, no Python."""
    a = props("q_group_kfold", spark)
    assert a["read_cols"] == ["2", "2"]
    assert a["exchanges"] <= 5
    assert a["sort_merge_joins"] == 0 and a["broadcasts"] >= 1
    assert a["python_ops"] == 0


def test_assortativity_pruned_scans_all_jvm(spark):
    """Moment pipeline is pure JVM; every scan subtree (repeated in the
    plan string by the two persisted frames — edges and degrees) reads
    exactly its 2 join/projection columns with the join filter pushed."""
    a = props("q_degree_assortativity", spark)
    assert a["python_ops"] == 0
    assert set(a["read_cols"]) == {"2"}
    assert a["pushed_filters"] >= 1
    assert a["sort_merge_joins"] <= 2  # the two node-keyed decorating joins
