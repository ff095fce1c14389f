"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` exposes every
implemented operator from SURVEY.md §2 as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (omitted only for
genuinely non-SQL-expressible ops, e.g. KDF-backed masking).

Query implementations live in ``arc_maskdata_pipeline_plugin_spark.plans.*``;
this module is a thin adapter over the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing these modules populates the registry. Imports are deliberately
# UNGUARDED: a silent ``except ImportError`` here once dropped 35 queries from
# the driver's correctness gate without a trace (VERDICT r01 §Next-round #1).
# If a plans module fails to import, the whole entry module must fail loudly.
#
# Registration ORDER matters: the driver's correctness gate runs queries in
# dict-insertion order under a bounded budget (r01 recorded exactly the first
# 50 registered queries). The LLM-pipeline families (dedup / text / similarity
# / masking / multimodal / streaming) were absent from the r01 gate, so they
# register FIRST this round; the relational/TPC-H family (driver-verified in
# r01) registers after.
from arc_maskdata_pipeline_plugin_spark.plans import dedup  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import text  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import text2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import similarity  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import embeddings  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import masking_queries  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import multimodal_queries  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import streaming_queries  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import training  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import relational  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import relational2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import relational3  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import relational4  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import advanced_sql  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import search  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import search2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import privacy  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import layout  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import graph  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import graph2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import quality  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import timeseries  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import behavior  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import rag  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import bpe  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import curation  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats3  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats4  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import mlprep  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import lakeops  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import geo  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import retrieval2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import bpe2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import dedup2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import refresh  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats5  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import training2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import lakeops2  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import mleval  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import vocab  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import lakeops3  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import heavyhitters  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import lm  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import card  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import unigram  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import wordpiece  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import trend  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import shootout  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import linkage  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import stats6  # noqa: F401
from arc_maskdata_pipeline_plugin_spark.plans import curation2  # noqa: F401

from arc_maskdata_pipeline_plugin_spark.plans.registry import REGISTRY

# The driver's correctness gate records the FIRST 50 queries in dict order
# (its budget cap, observed r01-r03). Curate that window explicitly
# (VERDICT r02 next-round #2) each round: rotate in every query the driver
# has never witnessed plus everything added/changed this round, and fill the
# rest with green representatives of each family. Everything else follows in
# registry order and is exercised by tools/oracle_check.py + judge runs.
GATE_WINDOW = [
    # CURATION POLICY (VERDICT r02 #2): the driver's correctness gate
    # records the FIRST 50 registered queries, so every query added or
    # materially changed THIS round gets a slot; displaced queries are all
    # (a) green under tools/oracle_check.py's identical local gate,
    # (b) benched and/or pytest-pinned, and (c) witnessed by a prior
    # round's CORRECTNESS_r{N}.json.
    #
    # WINDOW: leads with the two queries whose plans changed when the
    # HmacSHA512 mask functions moved into the JVM (displacing the witnessed
    # masking representatives q_mask_credit_cards and q_fake_substitution);
    # then (a) the twelve queries whose plans changed when
    # plans/twophase.global_cumsums swapped its lambda bucket expression for
    # a CASE chain, and again when its per-bucket sum(...) columns took the
    # order `sums` lists them in instead of a PYTHONHASHSEED-dependent set
    # order (same results, new plan strings); (b) the queries whose
    # plans changed in round 13's optimization batches (HITS
    # window-normalized recurrence; label-propagation lazy chain; doc-local
    # winnowing family; fused-exchange item co-occurrence; top-k
    # pre-reduction consumers), minus four the r13 gate already witnessed
    # (q_word_pmi, q_frequent_itemsets, q_tfidf_top_terms,
    # dedup_sorted_neighborhood); then (c) green representatives of each
    # family, all driver-witnessed in r01..r12. The eight r12-changed plans
    # that used to lead the window were witnessed post-change by the r13
    # gate (CORRECTNESS_r13.json) and rotated out. Every slot is
    # hash-oracled.
    #
    # --- plans changed when the HmacSHA512 mask functions became JVM
    #     UDFs (ScalaUDF in place of ArrowEvalPython) ---
    "q_mask_customers", "q_mask_order_dates",
    # --- plans changed by the global_cumsums bucket expression and
    #     sum(...) column order ---
    "q_winsorize_prices", "q_winsorize_prices_approx",
    "q_quantile_normalize", "q_perplexity_filter",
    "q_curriculum_shards", "q_ks_test", "q_mann_whitney",
    "q_kruskal_wallis", "q_negative_sampling_table",
    "q_partition_balance_planner", "q_selectivity_estimate",
    "q_cramer_von_mises",
    # --- r13-changed plans (optimization batches) ---
    "q_hits_authorities", "q_label_propagation",
    "q_winnowing_fingerprints", "q_winnowing_dup_pairs",
    "dedup_incremental_winnow", "q_stream_dedup_winnow",
    "q_dedup_recall_comparison", "q_item_cooccurrence",
    "q_clustering_coefficient",
    "q_minhash_estimate_error",
    "q_dataset_card_report",
    "q_bm25_search", "q_unigram_logprob",
    #
    # --- green representatives (witnessed r01..r12), one+ per family:
    #     relational/TPC-H, lifecycle, masking/KDF, dedup, similarity,
    #     language/LM, streaming, lakeops/CBO, tokenizer families,
    #     trend/drift, linkage, sketches ---
    "q1_pricing_summary", "q_userdata_lifecycle", "q_mask_customers_pbkdf2",
    "dedup_minhash_pairs_fast", "q_lsh_band_sweep",
    "q_source_copy_direction", "q_margin_mining_pairs",
    "q_kneser_ney_perplexity", "q_naive_bayes_langid",
    "q_stream_session_window", "q_python_datasource_stream",
    "q_join_cardinality_estimate", "q_layout_advisor",
    "q_misra_gries_topk",
    "q_unigram_train_vocab", "q_unigram_encode",
    "q_mask_ff1_referential", "q_mann_kendall_trend",
    "q_benford_digit_audit", "q_fellegi_sunter_linkage",
    "q_fs_linkage_decisions", "q_bpe_train_merges",
    "q_wordpiece_encode",
]
assert len(GATE_WINDOW) == 50, len(GATE_WINDOW)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    missing = [n for n in GATE_WINDOW if n not in REGISTRY]
    if missing:  # fail loudly — a silent miss would shrink the gate window
        raise KeyError(f"GATE_WINDOW names not in registry: {missing}")
    ordered = list(GATE_WINDOW) + [n for n in REGISTRY if n not in set(GATE_WINDOW)]
    return {name: REGISTRY[name].fn for name in ordered}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
