"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from arc_maskdata_pipeline_plugin_spark import get_spark  # noqa: E402
from arc_maskdata_pipeline_plugin_spark.cache import (  # noqa: E402
    release_persisted,
)
from tools.plan_shas import plan_sha  # noqa: E402

# Headline set: one per operator family; masking/dedup join as implemented.
HEADLINE = [
    "q1_pricing_summary",
    "q2_cheapest_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q_salted_join_revenue",
    "q_window_top_customers",
    "q_rollup_sales",
    "q_distinct_users_by_type",
    "q_events_hourly",
    "q_sessionize_events",
    "q_word_counts",
    "q_mask_customers",
    "q_fake_substitution",
    "dedup_minhash_pairs",
    "dedup_jaccard_pairs",
    "text_quality_scores",
    "text_fingerprints",
    "sim_knn_bruteforce",
    "sim_ann_lsh",
    "q_multimodal_features",
    # breadth additions (round 1): hardest TPC-H shapes + UDAF + IVF ANN
    "q8_market_share",
    "q21_sole_returning_supplier",
    "q_udaf_group_quantiles",
    "sim_ann_ivf",
    # round 2: real PNG encode->decode round trip through mapInPandas;
    # production-hash minhash next to the md5 oracle path
    "q_multimodal_real_png",
    "dedup_minhash_pairs_fast",
    # round 3: JVM-anchored PBKDF2 masking; embedding normalize pre-pass;
    # training-set prep (decontamination probe + shard write shape)
    "q_mask_customers_pbkdf2",
    "q_embedding_normalize",
    "q_decontaminate_ngrams",
    "q_training_shards",
    # round 4: retrieval family (postings shuffle + broadcast query terms),
    # Bloom dedup screen, PQ-ADC compressed-code scan
    "q_bm25_search",
    "q_tfidf_top_terms",
    "q_unigram_logprob",
    "q_bloom_dedup_screen",
    "sim_ann_pq",
    # round 4 (cont.): iterative integer PageRank (2 shuffles/iteration),
    # Z-order clustering aggregate, privacy enforcement window, 3-sigma
    # outlier screen, dense-grid interpolation
    "q_pagerank_suppliers",
    "q_zorder_layout",
    "q_k_anonymity_suppress",
    "q_outlier_customers",
    "q_gap_fill_interpolate",
    # round 4 (cont. 2): capstone pipeline, CMS sketch build, RAG index,
    # behavioral funnel
    "q_corpus_prepare_e2e",
    "q_heavy_hitters_cms",
    "q_rag_index_build",
    "q_funnel_conversion",
    # round 5: BPE trainer (10 vocab-pass rounds + driver argmax probes),
    # PMI pair enumeration (capped self-join), hybrid RRF fusion,
    # sweep-line concurrency (day-sharded prefix sums), one-pass OLS moments
    "q_bpe_train_merges",
    "q_word_pmi",
    "q_hybrid_rrf_search",
    "q_max_concurrent_sessions",
    "q_group_ols",
    # round 5 (cont.): pixel-exact perceptual hash (real decode in Python),
    # wedge-join triangle count, sliding-window distincts, entity resolution
    "q_multimodal_phash",
    "q_triangle_count",
    "q_dau_wau_stickiness",
    "q_entity_resolution",
    # round 6: ExactSubstr-shape span dedup (one corpus shuffle on span
    # hash), containment near-dup (shared pair machinery with Jaccard),
    # per-source drift KL (one corpus count shuffle), gap-aware EWMA
    "q_substring_span_dedup",
    "dedup_containment_pairs",
    "q_corpus_drift_kl",
    "q_ewma_daily_value",
    # round 6 (cont.): anti-entropy checksum (one aggregate over 5 cols),
    # A-ES weighted top-k sample (TakeOrderedAndProject path)
    "q_table_fingerprint",
    "q_weighted_sample",
    # round 6 (cont. 2): skyline level-frame window, quantile-normalize
    # broadcast-CDF probe, HLL pair overlap (sketch-table math only)
    "q_pareto_orders",
    "q_quantile_normalize",
    "q_hll_audience_overlap",
    # round 6 (cont. 3): Zipf slope (term count + 100-row regression),
    # journey mining (one user shuffle)
    "q_zipf_slope",
    "q_user_journeys",
    # round 6 (cont. 4): basket-bounded association rules, Neyman sampling
    "q_frequent_itemsets",
    "q_neyman_sample",
    # round 6 (cont. 5): integer-exact CUSUM argmax on the calendar frame
    "q_cusum_changepoint",
    # round 6 (cont. 6): 8-round k-core peel (localCheckpoint per round)
    "q_kcore_suppliers",
    # round 6 (cont. 7): phrase search over positional postings; SNM
    # sort-blocking dedup (global signature sort, linear candidate budget)
    "q_phrase_search",
    "dedup_sorted_neighborhood",
    # round 6 (cont. 8): delta-algebra join MV (3 |Δ|-sized joins + merge)
    "q_incremental_join_mv",
    # round 6 (cont. 9): CUPED + Kaplan-Meier (user-frame experimentation)
    "q_cuped_adjustment",
    "q_kaplan_meier",
    # round 6 (cont. 10): 32-replicate Poisson bootstrap in ONE pass
    "q_poisson_bootstrap_ci",
    # round 6 (cont. 11): PSI drift (reference-decile buckets, both halves
    # bucketed against broadcast boundary arrays in one pass)
    "q_psi_drift",
    # round 7: remaining >1s r04-gate-window queries (VERDICT r04 #6) —
    # cross-source copy matrix (banded pair join), seasonal decomposition +
    # anomaly monitors (calendar-frame aggregates), LTV curves (cohort
    # cumulative window), scene-cut detection (Arrow batch pHash deltas)
    "q_source_copy_matrix",
    "q_seasonal_decompose",
    "q_seasonal_anomaly",
    "q_cohort_ltv_curve",
    "q_multimodal_scene_cuts",
    # round 7 (cont.): exact distributed NTILE via range partitioning —
    # regression-watch the de-weaked RFM plan
    "q_rfm_segments",
    # round 7 (cont.): the two winsorize threshold modes — exact rank over
    # the distinct-value frame vs one mergeable GK aggregate (100 TB mode)
    "q_winsorize_prices",
    "q_winsorize_prices_approx",
    # round 7 (cont. 2): corpus-curation family — boilerplate segment dedup
    # (segment-hash shuffle + broadcast heavy-hitter set), unigram
    # perplexity filter (vocab LM broadcast), DSIR importance top-k,
    # 3-gram novelty attribution
    "q_boilerplate_segments",
    "q_perplexity_filter",
    "q_dsir_importance",
    "q_ngram_novelty",
    # round 7 (cont. 3): SemDeDup — cluster-then-prune semantic dedup
    "q_semdedup",
    # round 7 (cont. 4): language-ID confusion matrix; banded-pHash image
    # near-dup (real decode, 4×16-bit bands, exact Hamming verify)
    "q_language_confusion",
    "q_multimodal_phash_dedup",
    # round 7 (cont. 5): tokenizer round-trip audit (vocab-frame-only),
    # curriculum sharding (exact quintile cuts), hard-example mining
    "q_bpe_roundtrip",
    "q_curriculum_shards",
    "q_hard_negatives",
    # round 7 (cont. 6): robust trend, hashing-trick featurizer,
    # consistent-hash rebalance audit, synchronous label propagation
    "q_theil_sen_trend",
    "q_feature_hashing",
    "q_consistent_hash_shards",
    "q_label_propagation",
    # round 7 (cont. 7): retrieval-quality evaluation over the BM25 stack
    "q_search_ndcg",
    # round 7 (cont. 8): embedding drift, retention, epoch reshuffle, SLA
    # percentiles, FK audit, multi-touch attribution, log-rank survival A/B
    "q_embedding_drift",
    "q_rolling_retention_d7",
    "q_epoch_shuffle",
    "q_delivery_sla_monthly",
    "q_referential_integrity",
    "q_position_attribution",
    "q_logrank_test",
    # round 7 (cont. 9): robust center, idf-weighted simhash, experiment
    # balance gate, forecast backtest harness
    "q_trimmed_mean",
    "dedup_simhash_idf_buckets",
    "q_covariate_balance",
    "q_forecast_backtest",
    "q_churn_features",
    "q_pca_top_component",
    "q_growth_accounting",
    # round 6 additions: nonparametric stats, ML-prep, lakehouse CDC,
    # link prediction, retrieval eval
    "q_ks_test",
    "q_mann_whitney",
    "q_target_encoding",
    "q_calibration_ece",
    "q_url_canonical_dedup",
    "q_cdc_apply",
    "q_adamic_adar",
    "q_mrr_recall_eval",
    "q_dp_quantile",
    "q_schema_drift_audit",
    "q_rank_biased_overlap",
    "q_kmv_distinct_merge",
    "q_geo_proximity_join",
    "q_graph_jaccard_similarity",
    "q_bonferroni_ab_screen",
    "q_watermark_lateness_audit",
    # round 6 (cont.): k-group tests + FDR control + changepoint location
    "q_kruskal_wallis",
    "q_anova_f",
    "q_spearman_corr",
    "q_bh_fdr_screen",
    "q_pettitt_changepoint",
    "q_nelson_aalen",
    "q_acf_daily",
    # round 6 (cont. 2): integer HITS (2 shuffles + 2 scalar broadcasts per
    # round), per-vertex triangle credits over the oriented wedge frame
    "q_hits_authorities",
    "q_clustering_coefficient",
    # round 6 (cont. 3): readability screen (pure expressions), RAKE
    # keyword scores (doc-partitioned phrase windows + one word shuffle)
    "q_readability_scores",
    "q_rake_keywords",
    # round 6 (cont. 4): imbalance fix (broadcast class probe), contract
    # FD audit (stacked aggregates), basket co-occurrence recommender base
    "q_class_downsample",
    "q_fd_violation_audit",
    "q_item_cooccurrence",
    # round 6 (cont. 5): PRF expansion over the BM25 stack; Hilbert-curve
    # clustering audit (10 unrolled bit levels, codegen-fused)
    "q_prf_expansion",
    "q_hilbert_layout",
    # round 6 (cont. 6): k-ary randomized-response frequency (one stats
    # probe + one linear mechanism pass, type frames broadcast)
    "q_ldp_frequency",
    # round 6 (cont. 7): prefix-filter exact Jaccard join — the candidate-
    # complete leg of the set-similarity family (vs the naive common-shingle
    # join's sum-of-df^2 fanout), with the viral-token cap audited in-plan
    "dedup_ppjoin_pairs",
    # round 6 (cont. 8): session-bigram Markov matrix — one user-keyed
    # window exchange, row totals from a window over the types^2 aggregate
    "q_markov_transitions",
    # round 6 (cont. 9): group-aware K-fold split — one user-keyed
    # aggregate, leakage audit broadcast from the user-sized frame
    "q_group_kfold",
    # round 6 (cont. 10): degree assortativity — sqrt-free exact Pearson
    # over the symmetrized edge list, one moment aggregate
    "q_degree_assortativity",
    # round 7: late-interaction MaxSim (vocab-scored, one corpus scan via
    # the persisted doc-word frame) and sign-binarized Hamming top-k with
    # the exact-cosine retained-recall witness
    "q_maxsim_late_interaction",
    "q_embedding_binarize_hamming",
    # round 7 (cont.): byte-level BPE — train on byte symbols; encode =
    # vocab join + driver-round-tripped artifact replay witness
    "q_bpe_byte_train",
    "q_bpe_byte_encode",
    # round 7 (cont. 2): cross-method dedup evidence merge (>=2-of-3 vote →
    # CC → survivorship) and the incremental corpus-refresh funnel capstone
    "q_dedup_evidence_clusters",
    "q_corpus_refresh_incremental",
    # round 7 (cont. 3): sequential/equivalence/permutation testing — one
    # scan each; SPRT constants inlined as identical double literals
    "q_sprt_ab",
    "q_tost_equivalence",
    "q_permutation_test_ab",
    # round 7 (cont. 4): contrastive-batch leakage, closed-form token
    # water-filling, zone-map file-skipping audit
    "q_batch_leakage_audit",
    "q_token_budget_waterfill",
    "q_zonemap_skip_audit",
    # round 7 (cont. 5): real-decoder pixel statistics; MinHash estimator
    # error measured in-plan against exact Jaccard
    "q_multimodal_pixel_stats",
    "q_minhash_estimate_error",
    # round 7 (cont. 6): seeded-teleport PageRank; Wang-Hyndman
    # decomposition strengths over the STL-lite components
    "q_personalized_pagerank",
    "q_seasonal_strength",
    # round 7 (cont. 7): partition-grain snapshot checksums for
    # incremental-ETL change detection
    "q_partition_fingerprint_diff",
    # round 7 (cont. 8): word2vec negative-sampling table with
    # deterministic draw-fit witness
    "q_negative_sampling_table",
    # round 8: span-level contamination evidence (broadcast probe +
    # collision-sized island windows); vocab-size economics from one
    # byte-BPE training run (vocab-frame prefix replays)
    "q_decontaminate_spans",
    "q_bpe_vocab_sweep",
    # round 8 (cont.): MOSS winnowing fingerprints (doc-local windows,
    # 4-way position explode, zero joins)
    "q_winnowing_fingerprints",
    # round 8 (cont. 2): embedding hubness k-occurrence histogram over a
    # deterministic modulus sample
    "q_hubness_audit",
    # round 8 (cont. 3): context-length packing economics — 4 lengths
    # priced off one cumulative window
    "q_packing_efficiency_sweep",
    # round 8 (cont. 4): smallest repeating token period (doc-local
    # O(n²) slice equality, generation-loop detector)
    "q_repetition_period",
    # round 8 (cont. 5): inverse-propensity soft dedup weighting
    # (one fingerprint window + one source aggregate, no joins)
    "q_dedup_soft_weights",
    # round 8 (cont. 6): crawl-fragment stitch detection (slim head/tail
    # hash frame self-joined on the hash key)
    "q_doc_stitch_pairs",
    # round 8 (cont. 7): corpus-release capstone (stitch flags -> span
    # decontamination -> soft-dedup mass -> packing economics)
    "q_corpus_release_report",
    # round 8 (cont. 8): sort-key advisor (4 layouts x mixed predicate
    # workload, all evaluation on the file-grain zone frame)
    "q_layout_advisor",
    # round 8 (cont. 9): winnowing index consumer — fingerprint bucket
    # join + pair scoring
    "q_winnowing_dup_pairs",
    # round 8 (cont. 10): detector shoot-out — MinHash vs winnowing recall
    # against exact ground truth (real cross-engine values, not verdicts)
    "q_dedup_recall_comparison",
    # round 9: directed copy attribution — per-span first-seen origin
    # (hash agg) -> directed (origin, copier) share matrix
    "q_source_copy_direction",
    # round 9 (cont.): winnowing-backed incremental dedup — batch-local
    # fingerprinting probing a persisted (h) store
    "dedup_incremental_winnow",
    # round 9 (cont.): tokenizer artifact export/import parity — train ->
    # vocab.json/merges.txt -> re-import -> replay equals trained encoding
    "q_bpe_artifact_roundtrip",
    # round 9 (cont.): bloom-filter file skipping for point lookups on an
    # unsorted column — metadata-sized (file, bit) index + broadcast probes
    "q_bloom_skip_audit",
    # round 9 (cont.): margin-based pair mining — ratio margin over
    # broadcast query set, rank-ordered fold denominator
    "q_margin_mining_pairs",
    # round 9 (cont.): generalization-lattice advisor — 9 QI lattice nodes
    # from one stacked scan, ranked by budgeted suppression then height
    "q_generalization_advisor",
    # round 9 (second batch): classifier-eval metrics — exact rank
    # statistics over the (group, distinct score) frame
    "q_roc_auc",
    "q_pr_auc_best_f1",
    # round 9 (second batch): vocabulary-coverage estimators — Chao1 /
    # Good-Turing from frequency-of-frequencies; Heaps growth via the
    # doc-offset first-seen decomposition (no token-level global sort)
    "q_chao_coverage",
    "q_heaps_law_curve",
    # round 9 (second batch): lakehouse txn-log replay (file-grain windows)
    # and the System-R join-cardinality estimator audited vs ground truth
    "q_txn_log_replay",
    "q_join_cardinality_estimate",
    # round 9 (second batch): Misra-Gries mergeable heavy hitters with the
    # N/(k+1) deficit theorem pinned in-plan
    "q_misra_gries_topk",
    # round 9 (second batch): padding-waste economics of arrival-order vs
    # length-sorted batch assembly
    "q_padding_waste",
    # round 9 (third batch): lift/gain deciles, trained NB lang-ID
    # (|langs|·vocab likelihood table scoring), bigram LM perplexity
    # (co-partitioned LM join), term burstiness, JL projection audit
    "q_lift_gain_deciles",
    "q_naive_bayes_langid",
    "q_bigram_perplexity",
    "q_term_burstiness",
    "q_jl_projection_audit",
    # round 9 (fourth batch): mutual-NN mining (one scored cross join, two
    # windows), degree power-law MLE, DP exponential top-k (Gumbel-max),
    # dataset-card capstone (components joined at source grain)
    "q_reciprocal_best_match",
    "q_degree_powerlaw_alpha",
    "q_dp_topk_exponential",
    "q_dataset_card_report",
    # round 9 (fifth batch): columnar-encoding advisor (stacked scan +
    # per-(column, file) run windows), partition-balance planner
    "q_encoding_advisor",
    "q_partition_balance_planner",
    # round 9 (sixth batch): invertible FPE over the key dictionary;
    # leave-one-source-out influence (decomposable counterfactual)
    "q_mask_fpe_referential",
    "q_loo_source_influence",
    # round 9 (sixth batch, cont.): equi-depth selectivity estimator vs
    # ground truth from one distinct-value frame; LSH banding sweep off
    # one persisted signature pipeline
    "q_selectivity_estimate",
    "q_lsh_band_sweep",
    # round 10: NIST SP 800-38G FF1 (bit-exact, radix 10 + 36) over the
    # key dictionary — the standards-exact sibling of the Feistel FPE
    "q_mask_ff1_referential",
    # round 11: NIST SP 800-38G FF3-1 (Feistel core pinned to the 15
    # published FF3 vectors; radix 10 + 26) over the partkey dictionary
    "q_mask_ff3_referential",
    # round 10: interpolated Kneser-Ney bigram perplexity (exact-integer
    # rational discount; continuation counts off the persisted bigram frame)
    "q_kneser_ney_perplexity",
    # round 10: streaming winnowing dedup — foreachBatch probe of the
    # frozen fingerprint store, multi-file drain, per-batch cost ∝ batch
    "q_stream_dedup_winnow",
    # round 10: CBO closure — estimate → choose join order → execute both
    # intermediates at key grain → q-error audit
    "q_join_order_advisor",
    # round 10: unigram-LM (SentencePiece-style) tokenizer — hard-EM prune
    # rounds + fixed-unroll Viterbi DP on the word frame; encode is a
    # word-keyed join; artifact export/import parity in-plan
    # (the artifact-roundtrip twin is a parity audit, exercised by the
    # correctness gate rather than the timed headline set)
    "q_unigram_train_vocab",
    "q_unigram_encode",
    # round 11: WordPiece (BERT family) — likelihood-score merges (exact
    # integer fp18 argmax) + greedy longest-match encode on the word frame
    "q_wordpiece_train_merges",
    "q_wordpiece_encode",
    # round 11: Mann-Kendall + Theil-Sen drift monitor — exact-integer
    # S/var18 verdict, fp6 truncated pairwise slopes on the calendar-bounded
    # daily frame
    "q_mann_kendall_trend",
    # round 11: tokenizer shoot-out capstone — all three families trained on
    # the same corpus, shared word population, per-family fertility
    "q_tokenizer_shootout",
    # round 11: Fellegi-Sunter EM linkage — blocked pair self-join + one
    # 16-row pattern aggregate; fixed-point fp9 EM on the collected grid
    "q_fellegi_sunter_linkage",
    # round 11: seasonal (Hirsch-Slack) Mann-Kendall — within-season pairs
    # only, summed S/var18; 7x fewer pairs than the unsegmented test
    "q_seasonal_mann_kendall",
    # round 11: streaming MK drift monitor — foreachBatch maintains the
    # calendar-bounded daily store; MK core runs on the merged store
    "q_stream_trend_monitor",
    # round 11: Benford first-digit audit — fp9 log expectations as shared
    # integer literals, chi-square in exact fp6, 9-row grid after one scan
    "q_benford_digit_audit",
    # round 10: sampled-permutation Shapley coverage valuation (closed-form
    # marginals -> P keyed argmins over the (word, source) frame)
    "q_shapley_source_coverage",
    # round 10: split-conformal coverage audit (finite-sample-exact rank
    # quantile; grouped windows on the distinct-value frame)
    "q_conformal_interval_audit",
    # round 10: group-fairness audit (exact fp6 rates + DP/EO gaps)
    "q_fairness_group_audit",
    # round 12: pair-level FS decisions — 16-row fitted grid broadcast
    # back onto the capped-block pair frame, three-zone classification
    "q_fs_linkage_decisions",
    # round 12: Hamed-Rao autocorrelation-corrected MK — rank ACF of the
    # detrended daily series, exact-rational variance inflation
    "q_hamed_rao_trend",
    # round 12: two-sample Cramér-von Mises on the distinct-value frame
    # (closed-form tied-group rank sums; two-phase cumulative counts)
    "q_cramer_von_mises",
    # round 12: delete-one-day jackknife ratio SE on the calendar-bounded
    # daily frame (exact integer variance identity)
    "q_jackknife_ratio_se",
    # round 12: Gopher quality + repetition rules (published thresholds;
    # (doc, n, gram) shuffle + per-doc windows -> source-level report)
    "q_gopher_quality_rules",
    # round 12: greedy char-budget chunker as a real Python UDTF (lateral
    # join, partition-local; oracle = DuckDB recursive CTE)
    "q_greedy_chunk_udtf",
    # round 12: Wasserstein-1 drift (magnitude-aware shift; one two-phase
    # pass supplies exclusive cumsums AND the previous-value lag)
    "q_wasserstein_drift",
    # round 12: FS clerical-review queue capstone (three-zone scoring ->
    # star-rounds connected components -> case-size histogram)
    "q_fs_review_queue",
]

WARM_RUNS = 3  # median of 3 — single-shot warm timings can't separate a real
# 30% plan regression from box CPU noise (BENCH_r02's uniform 1.28x)


def _median(xs: list[float]) -> float:
    """True median: even-length lists average the two middle samples.
    ``sorted(xs)[(len-1)//2]`` picked the MINIMUM of a 2-sample list, which
    optimistically biased the >=3s tier's 'warm median' (ADVICE r05)."""
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _previous_round_queries() -> tuple[str, dict]:
    """Per-query timings from the latest BENCH_r{N}.json, for regression
    tracking (VERDICT r01 next-round #8)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, str] | None = None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, path)
    if best is None:
        return "", {}
    try:
        # the full per-query map lives in the side file (BENCH_DETAIL_r{N}
        # .json, snapshotted per round) — prefer it: the printed line's
        # "queries" map is byte-budget-truncated to the slowest ~40 (r13)
        queries = {}
        detail = os.path.join(here, f"BENCH_DETAIL_r{best[0]:02d}.json")
        if os.path.exists(detail):
            with open(detail) as f:
                queries = json.load(f).get("queries", {})
        if not queries:
            with open(best[1]) as f:
                doc = json.load(f)
            # the driver wraps our JSON line under "parsed"
            queries = doc.get("queries") or (doc.get("parsed") or {}).get(
                "queries", {}
            )
        return f"r{best[0]:02d}", queries
    except (OSError, json.JSONDecodeError):
        return "", {}


def _baseline_plan_shas() -> dict:
    """Plan fingerprints to adjudicate regression flags against: prefer the
    previous ROUND's committed snapshot, else the in-tree BENCH_DETAIL.json
    from the latest full run (read BEFORE this run overwrites it)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = sorted(
        glob.glob(os.path.join(here, "BENCH_DETAIL_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
        reverse=True,
    ) + [os.path.join(here, "BENCH_DETAIL.json")]
    for path in candidates:
        try:
            with open(path) as f:
                shas = json.load(f).get("plan_shas") or {}
            if shas:
                return shas
        except (OSError, json.JSONDecodeError):
            continue
    return {}


def _clear_train_memo(name: str) -> None:
    """Memo-honest TRAINER timing (VERDICT r12 #3): the session train memos
    (VERDICT r11 #2 artifact semantics) made the trainer queries' warm runs
    time memo REPLAY instead of training. Clear the trainer's own memo before
    every timed run so its cold AND warm numbers measure the declared
    N-merge/EM training computation; encode/consumer queries keep the
    sanctioned train-once-apply-many artifact semantics (their memos
    survive, and each trainer run re-populates its memo)."""
    if name in ("q_bpe_train_merges", "q_bpe_byte_train"):
        from arc_maskdata_pipeline_plugin_spark.plans import bpe

        variant = "char" if name == "q_bpe_train_merges" else "byte"
        for k in [k for k in bpe._TRAIN_MEMO if k[2] == variant]:
            del bpe._TRAIN_MEMO[k]
    elif name == "q_wordpiece_train_merges":
        from arc_maskdata_pipeline_plugin_spark.plans import wordpiece

        wordpiece._TRAIN_MEMO.clear()
    elif name == "q_unigram_train_vocab":
        from arc_maskdata_pipeline_plugin_spark.plans import unigram

        unigram._TRAIN_MEMO.clear()


_TRAINER_QUERIES = frozenset(
    {
        "q_bpe_train_merges",
        "q_bpe_byte_train",
        "q_wordpiece_train_merges",
        "q_unigram_train_vocab",
    }
)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]
    # local-iteration escape hatch: bench only a comma-separated subset
    # (the driver never sets this, so its runs cover the full headline set)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]
    timings = {}
    cold = {}
    plan_shas = {}
    # read BEFORE this run overwrites BENCH_DETAIL.json
    baseline_shas = _baseline_plan_shas() if sf == "0.1" else {}
    # warm the JVM + parquet footer cache with one cheap action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    for name in names:
        # first run pays plan-compilation + Python-worker fork noise; then
        # WARM_RUNS steady-state runs, median recorded (VERDICT r02 #5:
        # single-shot warm numbers can't distinguish plan regressions from
        # box noise)
        # Plan fingerprint FIRST, on a cache-clean session (planning only,
        # no execution): a query that persists internal fragments plans to
        # InMemoryTableScan once its caches are materialized, so a sha
        # taken after the warm runs would spuriously adjudicate
        # "plan-changed" against a fresh-build baseline.
        try:
            plan_shas[name] = plan_sha(qs[name](spark, sf_dir))
        except Exception:
            pass
        # building a TRAINER query's plan runs the training loop (driver
        # argmax actions happen at plan-construction time) and populates its
        # memo — clear before EVERY timed run so trainer timings measure
        # training, not replay (VERDICT r12 #3; see _clear_train_memo)
        if name in _TRAINER_QUERIES:
            _clear_train_memo(name)
        t0 = time.perf_counter()
        n = qs[name](spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)
        # Adaptive warm-run count (wall-clock budget: ~100 headline queries):
        # sub-0.5s queries get ONE warm run — the regression checker ignores
        # sub-0.5s pairs as scheduler noise, so extra samples are wasted
        # wall; >=3s queries get two (their run-to-run variance is small);
        # the mid range keeps the full median-of-3.
        runs = 1 if cold[name] < 0.5 else (2 if cold[name] >= 3 else WARM_RUNS)
        warm = []
        for _ in range(runs):
            if name in _TRAINER_QUERIES:
                _clear_train_memo(name)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            warm.append(time.perf_counter() - t0)
        timings[name] = round(_median(warm), 3)
        memo_note = " [train-memo cleared per run]" if name in _TRAINER_QUERIES else ""
        print(
            f"# {name}: warm median {timings[name]}s of "
            f"{[round(w, 3) for w in sorted(warm)]} / cold {cold[name]}s ({n} rows)"
            f"{memo_note}",
            file=sys.stderr,
        )
        # Some queries deliberately persist small frames (BPE vocab, PMI
        # capped doc-words, triangle edges) — drop them so the 50+-query
        # session doesn't accumulate cache pressure that skews later queries.
        release_persisted()
        spark.catalog.clearCache()
    total = round(sum(timings.values()), 3)

    # regression table vs the previous round's recorded bench (sf0.1 only —
    # other SF dirs aren't comparable to the driver's records)
    regressions = {}
    uniform_slowdown = None
    prev_round, prev = ("", {}) if sf != "0.1" else _previous_round_queries()
    if prev:
        ratios = {
            name: t / prev[name]
            for name, t in timings.items()
            if prev.get(name, 0) > 0
        }
        # A PLAN regression is query-specific; co-tenant CPU noise moves every
        # query by a similar factor. Normalize by the median ratio so the
        # flags isolate genuinely-changed plans.
        med = sorted(ratios.values())[len(ratios) // 2] if ratios else 1.0
        uniform_slowdown = round(med, 2) if med > 1.25 else None
        print(
            f"# regression check vs BENCH_{prev_round} (flag >1.3x; median ratio "
            f"{med:.2f}x{' — uniform, likely environmental' if uniform_slowdown else ''}):",
            file=sys.stderr,
        )
        for name, ratio in ratios.items():
            adj = ratio / med if uniform_slowdown else ratio
            # Sub-half-second queries are dominated by fixed job overhead —
            # a 0.15s→0.45s move is scheduler noise, not a plan regression.
            if timings.get(name, 0) < 0.5 and prev.get(name, 0) < 0.5:
                continue
            flag = "  <-- REGRESSION" if adj > 1.3 else ""
            if adj > 1.3 or adj < 0.77:
                print(
                    f"#   {name}: {prev[name]}s -> {timings[name]}s "
                    f"({ratio:.2f}x raw, {adj:.2f}x vs median){flag}",
                    file=sys.stderr,
                )
            if adj > 1.3:
                regressions[name] = round(adj, 2)
    # Auto-adjudicate each flag (VERDICT r05 next-round #3): a flag whose
    # normalized physical-plan fingerprint is byte-identical to the previous
    # round's snapshot is environmental noise, not a plan regression.
    adjudication = {}
    for name in regressions:
        prev_sha, cur_sha = baseline_shas.get(name), plan_shas.get(name)
        if prev_sha and cur_sha:
            if prev_sha == cur_sha:
                adjudication[name] = "environment (plan unchanged)"
            else:
                adjudication[name] = "plan-changed"
        else:
            adjudication[name] = "unknown (no baseline plan sha)"
    for name, verdict in adjudication.items():
        print(f"#   adjudicated {name}: {verdict}", file=sys.stderr)

    # The driver records only a bounded stdout TAIL: at ~75 headline queries
    # the full per-query map overflowed it and BENCH_r04.json came back
    # "parsed": null (VERDICT r04 what's-wrong #3). The final line is now
    # COMPACT (totals + regression flags + top-10 slowest, well under 1 KB);
    # the full per-query timing map goes to BENCH_DETAIL.json, snapshotted
    # per round as BENCH_DETAIL_r{N}.json for the regression comparison.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "plan_shas": plan_shas,
    }
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": detail["sf"],
        "cold_total": detail["cold_total"],
        "n_queries": len(timings),
        "detail_file": "BENCH_DETAIL.json",
    }
    if prev:
        for doc in (out, detail):
            doc["vs_prev_round"] = prev_round
            if uniform_slowdown:
                doc["uniform_slowdown_x"] = uniform_slowdown
        detail["regressions_gt_1_3x"] = regressions
        if adjudication:
            detail["regression_adjudication"] = adjudication
        # the COMPACT stdout line must stay under the driver's tail
        # budget even when co-tenant noise flags dozens of queries:
        # top-10 worst ratios + a count; the full map is in the detail
        worst = dict(
            sorted(regressions.items(), key=lambda kv: kv[1], reverse=True)[
                :10
            ]
        )
        out["n_regressions_gt_1_3x"] = len(regressions)
        out["regressions_top10"] = worst
    # Per-query visibility for the driver (VERDICT r12 #4): the driver
    # records only the LAST 2000 bytes of output, so the full per-query map
    # (~7 KB at 235 queries) can never ride the printed line — that is
    # exactly the r04 truncation. Pack the SLOWEST queries into the line
    # until a 1900-byte budget is reached (the omitted tail is sub-second
    # scheduler-noise entries the regression checker ignores anyway; the
    # complete map is in BENCH_DETAIL.json). Slowest-first also supersedes
    # the old top10_slowest field.
    line_queries: dict[str, float] = {}
    for qname, secs in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        entry = round(secs, 2)
        trial = {**out, "queries": {**line_queries, qname: entry},
                 "n_queries_in_line": len(line_queries) + 1}
        if len(json.dumps(trial)) > 1900:
            break
        line_queries[qname] = entry
    out["queries"] = line_queries
    out["n_queries_in_line"] = len(line_queries)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    line = json.dumps(out)
    assert len(line) < 2000, f"final bench line too long ({len(line)} B)"
    print(line)


if __name__ == "__main__":
    main()
