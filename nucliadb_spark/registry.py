"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL twin.

This is the single source for ``__spark_entry__.queries()`` /
``oracle_sql()`` and for the local parity tests. Keys map 1:1 to
SURVEY.md §2 operator ids (noted in each docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # guarantee executor Python workers can unpickle our UDFs
            # no matter where the host created the session from
            # (shipping.py — the --py-files deployment story)
            from nucliadb_spark.shipping import ensure_shipped

            ensure_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver grades the FIRST 50 entries of this list per round.
# Round-15 window policy (oldest-driver-evidence-first rotation; the
# membership invariant is mechanical — tests/test_registry_invariants.py
# pins set(PRIORITY) == set(queries()) so no registered query can be
# driver-unreachable, and `scripts/check.sh` runs those tests in
# seconds so they gate every commit that touches the registry):
# the r15 window = the full r8/r9-evidence remainder (43 seats — the
# oldest tranche; clearing it lifts the ledger-wide minimum evidence
# to r10) + the TWO queries whose computation this optimization round
# RESTRUCTURED (ivf_drift_plan_sampled / ivf_drift_plan_incremental:
# the counter-merge rewrite + flagged-subtree checkpoint are proven
# result-identical locally by tests/test_cdc_ingest.py and the full
# parity sweep, and seating them makes the driver re-prove it) + the
# r10 tranche alphabetical to 50. No new queries this round
# (optimization rounds add none), so no new-query seats are owed.
# The tail holds every remaining query ordered by staleness (r10
# remainder, r11, r12, r13, then the 50 seats r14 just graded) so
# future rounds keep rotating forward. The fast test tier checks
# value parity for the graded window only (tests/test_window_gate.py);
# the all-oracle sweep (tests/test_oracle_parity.py) is slow-tier
# (NUCLIADB_SPARK_SLOW=1), so a stale tail seat is re-confirmation
# debt that only a slow-tier run re-checks.
PRIORITY: list[str] = [  # first 50 = this round's graded window
    # --- latest driver evidence: r8/r9 — the oldest seats, graded first ---
    "ann_ivf_sq8",
    "bm25_autocorrect",
    "bm25_batch_queries",
    "bm25_conjunctive",
    "bm25_explain",
    "bm25_fuzzy",
    "bm25_keyword",
    "bm25_min_score",
    "bm25_prefiltered_served",
    "bm25_snippets",
    "bpe_pair_counts",
    "catalog_date_histogram",
    "cdc_incremental_export",
    "cdc_suggest_served",
    "cdc_time_travel",
    "conversation_field_metadata",
    "conversation_page_read",
    "eval_prefix_ndcg",
    "find_autofilter",
    "find_hybrid_after",
    "find_hybrid_as_of",
    "find_prequeries",
    "ivf_drift_plan",
    "knn_maxsim_ivf",
    "multi_kb_counters",
    "multimodal_frame_sample",
    "multimodal_text_to_image",
    "pack_sequences",
    "rrf_explain",
    "sample_perplexity_buckets",
    "sample_token_budget",
    "segment_merge_plan",
    "stream_exact_dedup",
    "stream_neardup_gate",
    "stream_percolator",
    "stream_stream_join",
    "suggest_correction",
    "summarize_stub",
    "text_quality_funnel",
    "text_unigram_logprob",
    "trainset_split",
    "vocab_kmv_sketch",
    "vocab_prune_plan",
    # --- RESTRUCTURED this round (r15 drift-counter merge rewrite):
    # seated so the driver re-proves result-identity, per the
    # prove-equivalence-before-moving-on rule ---
    "ivf_drift_plan_sampled",
    "ivf_drift_plan_incremental",
    # --- latest driver evidence: r10 — alphabetical fill to 50 ---
    "advanced_query",
    "bm25_ematches",
    "bm25_fields_scoped",
    "bm25_fuzzy_fallback",
    "bm25_highlight",
    # ---------------- end of the 50-seat graded window ----------------
    # --- tail: r10 remainder (alphabetical) ---
    "bm25_prefiltered",
    "bm25_stop_words",
    "bm25_synonyms",
    "catalog_facets_as_of",
    "cdc_catalog_facets_served",
    "cdc_snapshot_diff",
    "find_hybrid_as_of_after",
    "find_hybrid_fielded_as_of",
    "graph_strategy_hops",
    "hydrate_paragraphs",
    "incremental_refresh_report",
    "ivf_cell_maintenance",
    "json_kv_date_range",
    "kb_feedback_report",
    "kb_labelsets",
    "kb_notifications",
    "kb_processing_status",
    "knn_cosine",
    "knn_pq_adc",
    "knn_quantized_rerank",
    "knn_rabitq_1bit",
    "knn_vectorset_alt",
    "kv_schema_infer",
    "multimodal_media_features",
    "multimodal_real_decode",
    "pipeline_clean_corpus",
    "pipeline_trainset_build",
    "sample_dsir",
    "stream_feedback_rate",
    "text_dup_spans",
    "trainset_partitions",
    "vectorset_backfill",
    # --- tail: latest driver evidence r11 (alphabetical) ---
    "catalog_count",
    "catalog_facet_rollup",
    "catalog_facets",
    "catalog_fuzzy_title",
    "catalog_trigram_title",
    "catalog_words_paged",
    "combsum_fusion",
    "conversation_context",
    "conversation_search",
    "conversation_typed_search",
    "corpus_length_stats",
    "dedup_best_survivor",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_span_removal",
    "facet_counter_compaction",
    "feedback_daily_trend",
    "field_facet_counts",
    "filter_expression_tree",
    "find_hybrid",
    "find_hybrid_as_of_filtered",
    "find_hybrid_as_of_rephrased",
    "find_hybrid_fielded_as_of_filtered",
    "find_hybrid_ivf",
    "find_prefiltered",
    "find_prefiltered_served",
    "find_relations_subgraph",
    "find_rephrased",
    "find_snapshot_rank_drift",
    "graph_neighborhood",
    "graph_node_fuzzy",
    "graph_node_words",
    "graph_nodes_projection",
    "graph_pagerank",
    "graph_path_prefix",
    "graph_path_undirected",
    "graph_relations_projection",
    "graph_semantic_nodes",
    "graph_text_blocks",
    "graph_two_hop",
    "knn_as_of_incremental",
    "search_as_of_incremental",
    "suggest_as_of",
    "suggest_entities_as_of",
    # --- tail: latest driver evidence r12 (alphabetical) ---
    "augment_paragraphs",
    "augment_resources",
    "catalog_facets_as_of_dated",
    "catalog_filter_alias",
    "cdc_catalog_facets_as_of_served",
    "cdc_facet_counts",
    "cdc_fielded_search_live",
    "cdc_search_live",
    "cdc_vector_search_live",
    "contamination_ngram_overlap",
    "dedup_clusters",
    "embed_knn_stub",
    "entities_group_members",
    "entities_groups",
    "event_sessionization",
    "events_asof_join",
    "events_asof_tolerance",
    "events_percentiles",
    "events_rollup",
    "export_field_classification",
    "export_field_streaming",
    "export_paragraph_classification",
    "field_family_facets",
    "find_fields_scoped_multi",
    "find_hybrid_as_of_dated",
    "find_hybrid_fielded",
    "find_secured",
    "find_skip_set",
    "graph_path_filtered",
    "hydrate_mixed_corpora",
    "kb_export_roundtrip",
    "knn_dot",
    "knn_matryoshka",
    "neighbouring_paragraphs",
    "oplog_vacuum_report",
    "paragraph_extract",
    "paragraph_extract_fielded",
    "paragraph_search_fielded",
    "phrase_match",
    "sample_domain_cap",
    "sample_temperature",
    "search_after_keyset",
    "search_fields_scoped",
    "security_filter",
    "suggest_entities",
    "suggest_filtered",
    # --- tail: latest driver evidence r13 (alphabetical) ---
    "ann_kmeans_step",
    "ask_stub",
    "batch_by_length",
    "batch_knn",
    "batch_knn_ivf",
    "catalog_facets_as_of_secured",
    "cdc_fielded_search_served",
    "cdc_graph_search_live",
    "cdc_graph_search_served",
    "cdc_live_as_of_vacuumed",
    "cdc_meta_live_served",
    "cdc_vector_search_served",
    "export_image_classification",
    "export_paragraph_streaming",
    "export_question_answer",
    "find_hybrid_as_of_entities",
    "find_hybrid_as_of_keyword_filtered",
    "find_hybrid_as_of_kv",
    "find_hybrid_as_of_mixed",
    "find_secured_as_of",
    "find_secured_as_of_prelock",
    "hydrate_conversation",
    "hydrate_multi_field",
    "hydrate_neighbours_depth2",
    "json_kv_filter",
    "keyword_filter",
    "knn_maxsim",
    "knn_min_score",
    "knn_prefiltered",
    "link_field_search",
    "multimodal_decode",
    "paragraph_search",
    "paragraph_search_filtered",
    "rag_field_extension",
    "rag_metadata_extension",
    "rerank_stub",
    "resource_get",
    "resources_list",
    "segment_autocompaction_plan",
    "stream_feedback_trend",
    "suggest_as_of_filtered",
    "suggest_paragraphs",
    "text_fingerprint",
    "text_language_id",
    "text_quality",
    "text_token_counts",
    "trainset_build_as_of",
    "url_dedup_exact",
    "url_filter_hosts",
    "vocab_stats",
    # --- tail: graded r14 (the freshest evidence) ---
    "advanced_query_fielded",
    "ann_ivf_adaptive",
    "ann_ivf_geometric",
    "ann_ivf_pq",
    "ann_ivf_probe",
    "ann_ivf_recall",
    "cdc_fielded_search_served_compacted",
    "cdc_substrate_stream_served",
    "export_sentence_classification",
    "export_token_classification",
    "fielded_compaction_plan",
    "find_exact_match_query",
    "find_hybrid_as_of_modified_range",
    "find_hybrid_as_of_vacuumed",
    "find_hybrid_fielded_graph",
    "find_relations_feature",
    "find_single_source",
    "graph_as_of",
    "graph_path_filtered_as_of",
    "graph_reachability",
    "graph_semantic_paths",
    "index_integrity_audit",
    "kb_counters",
    "knn_as_of",
    "knn_dedup",
    "knn_normalized",
    "knn_sq8_rerank",
    "legacy_search",
    "multi_kb_scoped_search",
    "old_filters_translation",
    "paragraph_search_no_dups",
    "purge_deletions_plan",
    "purge_orphans_plan",
    "resource_search",
    "resources_list_after",
    "retrieve_scores",
    "sample_mixture",
    "sample_stratified",
    "search_as_of",
    "shard_rebalance_plan",
    "shard_rollover_plan",
    "stream_session_window",
    "stream_sessionization",
    "stream_sliding_counts",
    "stream_windowed_counts",
    "suggest_combined",
    "suggest_entities_folded",
    "suggest_fielded",
    "text_pii_scan",
    "text_repetition",
]


def _ordered(d: dict) -> dict:
    rank = {n: i for i, n in enumerate(PRIORITY)}
    names = sorted(d, key=lambda n: (rank.get(n, len(PRIORITY)), list(d).index(n)))
    return {n: d[n] for n in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _ordered(_QUERIES)


# The r10 driver red rows were DuckDB oracle-process OOMs: a fresh
# duckdb.connect() defaults memory_limit to ~80% of PHYSICAL RAM, and
# several concurrent instances + the Spark JVM can exhaust the grading
# box (allocation failures on 2 KB blocks). For the reseated queries
# the oracle carries a SET prelude so each grading instance
# self-bounds and spills instead of racing the box — DuckDB's execute/
# sql/query APIs all accept the multi-statement string (verified on
# 1.0.0) and return the final SELECT. Scoped to the once-red set only,
# so a driver path that can't take multi-statement SQL risks nothing
# already green.
_MEMCAP_PRELUDE = "SET memory_limit='8GB'; SET threads=8;\n"
_MEMCAP = {
    "conversation_typed_search",
    "dedup_best_survivor",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_span_removal",
    "find_hybrid",
    "find_hybrid_ivf",
    "find_prefiltered",
    "find_prefiltered_served",
    "find_relations_subgraph",
    "find_rephrased",
    "graph_pagerank",
    "cdc_snapshot_diff",  # the r9 instance of the same failure class
    "ivf_drift_plan",  # its r15 oracle ran out of memory
}


def oracle_sql() -> dict[str, str]:
    _load_all()
    out = _ordered(_ORACLES)
    return {
        n: (_MEMCAP_PRELUDE + sql if n in _MEMCAP else sql)
        for n, sql in out.items()
    }


_LOADED = False

# Plan modules whose import populates the registry. Optional-dependency
# modules are allowed to fail to import, but the failure is logged so a
# silently-dropped query block is diagnosable (the PRIORITY invariant
# test then names the dangling seats).
_PLAN_MODULES = (
    "queries_text",
    "queries_vector",
    "queries_graph",
    "queries_pipeline",
    "queries_dataops",
    "queries_streaming",
    "queries_trainset",
    "queries_api",
)


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    import importlib
    import logging

    # importing these modules populates the registry
    from nucliadb_spark.plans import queries_catalog  # noqa: F401

    for mod in _PLAN_MODULES:
        try:
            importlib.import_module(f"nucliadb_spark.plans.{mod}")
        except ImportError:
            logging.getLogger(__name__).exception(
                "plan module %s failed to import; its registry queries "
                "are dropped and will surface as dangling PRIORITY seats",
                mod,
            )
    _LOADED = True
