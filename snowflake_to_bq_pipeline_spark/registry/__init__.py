"""Query registry: every operator from SURVEY.md §2 as a named
(spark, sf_dir) -> DataFrame callable, plus the DuckDB oracle SQL used by
the driver's correctness gate.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name and hashes
values). Money aggregates are computed in exact decimal then emitted as
round(x, 2) doubles on BOTH sides — see functions.DEC for why.
"""

from __future__ import annotations

from ._core import (  # noqa: F401
    ORACLES,
    QUERIES,
    STANDING_INDEXES,
    QueryFn,
    _corpus_fingerprint,
    _ModelMemo,
    _release,
    query,
    standing_index,
)
from . import (
    section_a_sync,
    section_b_analytics,
    section_c_monitoring,
    section_d_classic,
    section_e_text,
    section_e_similarity,
    section_f_streaming,
)

_SECTION_MODULES = (
    section_a_sync, section_b_analytics, section_c_monitoring,
    section_d_classic, section_e_text, section_e_similarity,
    section_f_streaming,
)


def _reexport(modules) -> None:
    """Bind every top-level name of the section modules in this package,
    so ``registry.<name>`` reaches any query, helper or memo; a name bound
    to two different objects fails the import."""
    ns = globals()
    for mod in modules:
        for name, obj in vars(mod).items():
            if not name.startswith("__"):
                assert ns.setdefault(name, obj) is obj, f"registry name clash: {name}"


_reexport(_SECTION_MODULES)


def _all_caches() -> dict:
    """Helper name -> memo of every registered standing index."""
    return {name: helper.cache for name, helper in STANDING_INDEXES.items()}


def clear_model_caches() -> None:
    """Explicit invalidation hook for every standing index (pair tables,
    k-means centroids, BPE merges, DSIR weights) — the embedded-session
    hard-reset API (used by tools/scale_smoke.py) regardless of
    fingerprints."""
    for cache in _all_caches().values():
        for v in cache.values():
            _release(v)
        cache.clear()
    from ..catalog import clear_table_cache

    clear_table_cache()


# ---------------------------------------------------------------------------
# Registration order = the driver's correctness window.
#
# The driver's CORRECTNESS gate hash-checks only the FIRST 50 entries of
# ``queries()`` (dict insertion order).  Definition order above is narrative
# (grouped by SURVEY §2 family), so we rebuild QUERIES here with an explicit
# priority order (r8 rotation): changed-this-round queries first (fresh
# hash signal), then the queries whose last driver verdict is OLDEST
# (r5-vintage, then the oldest r6-vintage) — so driver coverage cycles
# through the whole oracle-gated surface across rounds.  Rows-only ops
# (no oracle possible) must never hold a window slot.
#
# Every registered query MUST appear exactly once (asserted below), and the
# window-critical set — every name whose engine code changed this round —
# must sit at index < 50 (asserted below; replaces the stale slot-number
# comments that caused the r4 tfidf_top_terms off-by-one).
# ---------------------------------------------------------------------------

_WINDOW_ORDER = [
    # -- DRIVER WINDOW (first 50): the driver hash-checks only these --
    # r15 rotation: the 11 oracle-gated queries whose engine code path
    # changed this round first (reporting_lag broadcast; the overlap
    # two-pass revert; every consumer of the CC small-graph fast path;
    # the guard-verdict df_cap key consumers), then the r12-vintage
    # longest-unchecked fills the r14 rotation queued up
    # (budget_fallback_allocation onward) to reach slot 50.
    "reporting_lag_analysis",
    "cross_source_ngram_overlap",
    "dedup_provenance_rollup",
    "dedup_clusters",
    "dedup_cluster_size_histogram",
    "dedup_savings_report",
    "dataset_split_assign_cluster_safe",
    "split_leakage_compare",
    "incremental_dedup_check",
    "ngram_jaccard_dups",
    "ngram_containment_dups",
    "budget_fallback_allocation",
    "budget_vs_actual",
    "classifier_gate_funnel",
    "quality_classifier_scores",
    "quality_classifier_report",
    "asof_join_last_purchase",
    "bloom_filtered_entries",
    "cdc_fold_snapshot",
    "client_budget_rollup",
    "data_quality_metrics",
    "decontamination_overlap",
    "dedup_exact",
    "doc_fingerprint",
    "doc_length_histogram",
    "dup_key_audit",
    "embedding_doc_dedup",
    "incremental_sync_window",
    "json_props_profile",
    "key_skew_profile",
    "mad_outlier_profile",
    "merge_upsert",
    "missing_records",
    "multivariate_anomaly",
    "open_orders_by_day",
    "orphaned_records",
    "pack_fill_summary",
    "paginated_extract",
    "paragraph_dedup",
    "priority_sample_docs",
    "repetition_filter",
    "retention_cohorts",
    "robust_value_stats",
    "rolling_revenue_7d",
    "sales_rollup_sets",
    "scd2_status_history",
    "sequence_packing",
    "snapshot_changelog",
    "source_language_mix",
    "source_mix_temperature",
    "span_cut_rollup",
    "substring_dup_spans",
    "incremental_span_check",
    "backfill_progress",
    "boilerplate_phrase_profile",
    "bom_per_case_consumption",
    "char_entropy_score",
    "charlm_perplexity",
    "chunked_backfill_plan",
    "click_attribution",
    "column_value_drift",
    "cross_split_contamination",
    "customer_revenue_deciles",
    "dataset_split_assign",
    "embedding_dup_pairs",
    "error_window_events",
    "event_session_stats",
    "event_sessions",
    "events_windowed_counts",
    "freshness_check",
    "incremental_agg_maintenance",
    "lang_id",
    "monthly_hours_pivot",
    "near_dup_rate_by_source",
    "pii_redaction",
    "q18_large_orders",
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q6_forecast_revenue",
    "quality_filter_funnel",
    "row_count_by_day",
    "row_count_compare",
    "source_mix_weights",
    "stratified_sample_mix",
    "text_quality_score",
    "text_stats",
    "tfidf_top_terms",
    "user_activity_trend",
    "user_running_totals",
    "vocab_top_k",
    "volume_anomaly",
    "volume_anomaly_dow",
    "work_item_enriched",
    "alert_digest",
    "ann_cosine_topk",
    "stale_snapshot_audit",
    "substring_dup_profile",
    "sync_date_dedup",
    "tfidf_doc_similarity",
    "token_count_bpe",
    "view_variance_detection",
    "doc_chunk_windows",
    "zipf_slope_by_source",
    "event_interarrival_profile",
    "dup_pair_similarity_histogram",
    "dedup_latest_record",
    "dedup_token_savings_by_source",
    "distribution_drift_psi",
    "doc_novelty_profile",
    "dsir_importance_weights",
    "dsir_select_topk",
    "embedding_norm_profile",
    "embedding_outlier_topk",
    "event_lateness_profile",
    "full_sync_snapshot",
    "funnel_conversion",
    "gopher_quality_rules",
    "group_percentiles_exact",
    "length_curriculum_buckets",
    "q10_returned_items",
    "q11_important_parts",
    "q12_priority_shipping",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q19_bracket_revenue",
    "q20_dominant_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_accounts",
    "q4_order_priority",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "shard_assignment_balanced",
    "shard_balance_summary",
    "source_quality_report",
    "status_flap_audit",
    "vocab_coverage_curve",
    "pipeline_alerts",
    "individual_budget_tracking",
    "contributor_utilization_rollup",
    "utilization_rollup",
    "ann_ivf_incremental_topk",
    "ann_ivf_list_drift",
    "ann_ivf_recall_curve",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "bpe_encode_tokens",
    "bpe_merge_table",
    "cluster_quality_report",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "kmeans_doc_clusters",
    "lsh_band_load_profile",
    "lsh_band_tuning_curve",
    "minhash_recall_report",
    "pq_compression_stats",
    "semdedup_prune",
    "simhash_hamming_histogram",
    "sketch_distinct_users",
    "sketch_value_quantiles",
    "streaming_ivf_assign_twin",
    "streaming_near_dedup_twin",
    "streaming_quality_score_twin",
    "streaming_near_dedup_verified_twin",
    "tokenizer_fertility_by_source",
    "unigram_encode_tokens",
    "unigram_vocab_table",
    "vocab_heavy_hitters_sketch",
    "chunk_ann_topk",
]

assert set(_WINDOW_ORDER) == set(QUERIES), (
    "registry window order out of sync: "
    f"missing={sorted(set(QUERIES) - set(_WINDOW_ORDER))} "
    f"stale={sorted(set(_WINDOW_ORDER) - set(QUERIES))}"
)

assert len(_WINDOW_ORDER) == len(set(_WINDOW_ORDER)), "duplicate names"

#: Names whose engine code is new or changed THIS round: each needs a fresh
#: driver hash verdict, so each must sit inside the 50-slot window.  Update
#: this set whenever a round touches a query's plan or oracle.
# r15: the 11 oracle-gated queries whose engine code path changed this
# round — reporting_lag_analysis (broadcast join), cross_source_ngram_
# overlap (two-pass revert), the _dup_clusters_for/_sem_groups_for
# consumers riding the CC small-graph fast path, and the guard-verdict
# consumers whose memo key gained df_cap. All hold window slots 1-11.
_WINDOW_CRITICAL = {
    "reporting_lag_analysis",
    "cross_source_ngram_overlap",
    "dedup_provenance_rollup",
    "dedup_clusters",
    "dedup_cluster_size_histogram",
    "dedup_savings_report",
    "dataset_split_assign_cluster_safe",
    "split_leakage_compare",
    "incremental_dedup_check",
    "ngram_jaccard_dups",
    "ngram_containment_dups",
}

assert all(_WINDOW_ORDER.index(n) < 50 for n in _WINDOW_CRITICAL), (
    "changed-this-round query outside the driver's 50-slot window: "
    f"{[n for n in _WINDOW_CRITICAL if _WINDOW_ORDER.index(n) >= 50]}"
)

# rows-only ops (no oracle) can never produce a hash verdict — keep them out
assert all(
    _WINDOW_ORDER.index(n) >= 50 for n in QUERIES if n not in ORACLES
), "rows-only op occupies a driver window slot"

QUERIES = {name: QUERIES[name] for name in _WINDOW_ORDER}
ORACLES = {name: ORACLES[name] for name in _WINDOW_ORDER if name in ORACLES}

# ---------------------------------------------------------------------------
# Cross-query memo provenance (introspected, not hand-maintained).
#
# bench.py's best-of-N protocol structurally under-counts queries that
# consume the fingerprint memos above: the shared build cost (shingle
# index, tok counts, k-means model, ...) lands in the FIRST rep of the
# FIRST consumer and every recorded best is a warm-memo time. So the
# bench sidecar flags exactly which queries ride which memo — derived
# from each registered function's source at import (transitively: e.g.
# _jaccard_pairs_for itself builds on _shingles_for), so a new consumer
# can never silently escape the flag.
# ---------------------------------------------------------------------------

_MEMO_HELPERS = tuple(STANDING_INDEXES)

def _memo_helpers_called(fn) -> frozenset:
    """Memo helpers a function's CODE actually calls.

    AST-based (ast.Call nodes only), so a helper merely MENTIONED in a
    docstring or comment — e.g. a query documenting why it does NOT ride
    ``_shingles_for(...)`` — is never falsely flagged as a memo consumer
    (a false flag would discount that query's genuine bench wins in
    bench_details' memo accounting)."""
    import ast
    import inspect
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):  # pragma: no cover
        return frozenset()
    called = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                called.add(f.id)
            elif isinstance(f, ast.Attribute):
                called.add(f.attr)
    return frozenset(h for h in _MEMO_HELPERS if h in called)

_HELPER_DEPS = {
    h: _memo_helpers_called(STANDING_INDEXES[h]) - {h} for h in _MEMO_HELPERS
}

def _memo_closure(helpers) -> frozenset:
    out, frontier = set(helpers), list(helpers)
    while frontier:
        for dep in _HELPER_DEPS[frontier.pop()]:
            if dep not in out:
                out.add(dep)
                frontier.append(dep)
    return frozenset(out)

#: query name -> sorted tuple of memo helpers its plan consumes
MEMO_CONSUMERS: dict[str, tuple[str, ...]] = {
    name: tuple(sorted(_memo_closure(_memo_helpers_called(fn))))
    for name, fn in QUERIES.items()
    if _memo_helpers_called(fn)
}
