"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 (the relational core X6 plus the
LLM-pipeline extensions X1-X5) is a named ``QuerySpec``: a Spark
DataFrame-API implementation and, where SQL-expressible, a DuckDB oracle
producing identical rows (same column names, same values) for the
driver's differential correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Queries that already have a driver-gate row (CORRECTNESS_r01 + r02 +
# r03, excluding q37 whose r1 row was an err since fixed — its green row
# landed in r3).  The driver's correctness gate samples the FIRST 50
# registry entries each round (verified: the r2 and r3 samples are each
# exactly registry positions 0-49), so ``registry()`` orders
# never-gate-checked queries first to rotate the sample toward unproven
# entries.  This static list is a pinned-history baseline; new rounds'
# gate files are absorbed automatically by ``_driver_evidenced`` below,
# so the rotation no longer needs a hand edit per round.
_GATE_EVIDENCED: frozenset[str] = frozenset({
    # round 1 (CORRECTNESS_r01.json, all green or rows-only; q37 err → omitted)
    "x01_dedup_distinct", "x02_dedup_keyed", "x08_ngram_jaccard",
    "x09_minhash_lsh", "x18_simhash", "x26_dedup_clusters",
    "x14_multimodal_catalog", "x15_binary_dedup",
    "q01_pricing_summary", "q02_filter_project", "q03_join_revenue_by_nation",
    "q04_semi_join", "q05_anti_join", "q06_event_stats",
    "q07_topk_per_customer", "q08_running_window", "q09_set_ops",
    "q10_rollup", "q11_cube", "q12_grouping_sets", "q13_string_funcs",
    "q14_date_funcs", "q15_math_funcs", "q16_array_funcs", "q17_json_funcs",
    "q18_global_topk", "q19_distinct_counts", "q20_approx_distinct",
    "q21_above_avg_orders", "q22_pivot_events", "q23_asof_last_click",
    "q24_revenue_delta", "q25_hourly_rollup", "q26_sessionize",
    "q27_regexp_funcs", "q28_null_handling", "q29_exact_moments",
    "q30_having", "q31_posexplode", "q32_shipping_priority",
    "q33_percentiles", "q34_left_outer_join", "q35_full_outer_join",
    "q36_cross_join", "q38_string_agg", "q39_unpivot", "q40_scd2_history",
    "q41_window_ranks", "q42_above_own_avg",
    # round 2 (CORRECTNESS_r02.json, all green or rows-only)
    "x39_xml_source", "q00_convert_dt", "x56_boilerplate_strip",
    "x57_token_entropy", "x58_quality_buckets", "x33_dedup_survivors",
    "x30_media_features", "x38_media_frames", "q47_interval_join",
    "x31_stratified_sample", "x36_zorder_key", "x40_profile",
    "x41_cdc_merge", "q49_salted_join", "q48_session_window",
    "x34_pii_redaction", "x35_repetition_signals", "x32_source_quota",
    "x44_mixture_resample", "x45_pagerank", "x48_interleave",
    "x50_fuzzy_match", "x51_histogram", "x11_cosine_topk",
    "x12_cosine_lsh_buckets", "x13_embedding_norms",
    "x19_embedding_near_dup", "x20_lsh_ann_topk", "x21_ivf_ann",
    "x42_pq_codes", "x49_kmeans", "x52_contamination", "x53_dup_spans",
    "x54_bm25", "x55_semantic_dedup",
    # round 3 (CORRECTNESS_r03.json: 49 green + q59 rows-only-by-design)
    "q37_array_agg", "q43_arg_extremes", "q44_conditional_distinct",
    "q45_null_repair", "q46_map_funcs", "q50_lateral_topk",
    "q51_range_window", "q52_gap_fill", "q53_quantile_features",
    "q54_set_ops_all", "q55_funnel", "q56_null_safe_join",
    "q57_cohort_retention", "q58_ohlc_bars", "q59_approx_percentile",
    "q60_recursive_chain", "q61_ewma", "q62_window_distinct",
    "q63_custdist", "q64_revenue_share", "q65_lone_failure",
    "q66_regression", "q67_mode", "q68_bool_bit_aggs", "q69_large_orders",
    "q70_part_supplier_counts", "q71_idle_rich_customers",
    "q72_promo_share", "q73_disjunctive_join", "q74_late_shipments",
    "q75_returned_revenue", "x28_stream_convert", "x29_stream_dedup_keys",
    "x37_stream_static_join", "x04_token_stats", "x05_lang_profile",
    "x06_quality_score", "x07_langid", "x03_fingerprint",
    "x16_bpe_token_count", "x17_rolling_hash", "x22_bigram_freq",
    "x23_length_histogram", "x24_tfidf", "x25_dataset_split",
    "x27_sequence_packing", "x43_text_clean", "x46_vocab_build",
    "x47_vocab_encode", "x59_matryoshka",
})


# The 43 round-3 additions that have never received a driver row
# (registry positions 50+ in round 3's ordering, so outside that round's
# sample window; all green in the local full-registry oracle mirror,
# tests/test_oracle_parity.py).  43 carried + the round-4 fresh additions
# fill the 50-slot sample window exactly, so CORRECTNESS_r04 proves the
# whole registry.
_PENDING_CARRIED: frozenset[str] = frozenset({
    "x60_embedding_quantize", "x61_chunk_sliding", "x62_unigram_logprob",
    "x63_heavy_hitters", "x64_outlier_mad", "x65_triangle_count",
    "x66_time_decay", "x67_stream_window", "x68_minhash_arith",
    "x69_simhash_arith", "x70_stream_interval_join", "x71_source_overlap",
    "x72_eval_sample", "x73_psi_drift", "x74_incremental_dedup",
    "x75_sketch_error", "x76_ann_recall", "x77_dataset_card",
    "x78_bigram_lm", "x79_containment_dedup", "x80_ivf_quality",
    "x81_stream_session", "x82_pmi_cooccur", "x83_weighted_sample",
    "x84_lang_centroids", "x85_shard_manifest", "x86_global_ordinals",
    "x87_stream_cdc", "x88_user_features", "x89_normalization_ladder",
    "x90_event_transitions", "x91_countmin_error", "x92_bloom_membership",
    "x93_snapshot_diff", "x94_skew_report", "x95_dedup_graph_degrees",
    "q76_local_supplier_volume", "q77_nation_volume", "q78_market_share",
    "q79_product_profit", "q80_top_supplier", "q81_small_qty_revenue",
    "q82_revenue_forecast",
})


# The seven r3-late additions that, together with the 43 carried, fill
# the round-4 sample window EXACTLY (43 + 7 = 50).  Pinned explicitly so
# that queries added during round 4 — which register in module-import
# order, possibly BEFORE scale_layout/relational7 — cannot displace any
# of these from the window.  Round-4 additions queue after them and
# become round-5 gate candidates.
_PENDING_R4_WINDOW: tuple[str, ...] = (
    "x99_corpus_clean_pipeline", "q83_suppliers_kept_waiting",
    "q84_order_reconciliation", "x96_partition_prune", "x97_bucketed_join",
    "x98_parquet_stats_report", "x100_dynamic_partition_prune",
)


# Round-5 sample window (VERDICT r4 ask #2): 60 round-4 additions queue
# for 50 slots, and the module-import default ordered the four new
# streaming gates, the BPE tokenizer chain (x101/x106/x113), and
# x138/x139/x149 — the most novel, highest-risk entries — OUT of the
# window.  This tuple pins the 50 in-window picks deliberately,
# highest-risk first.  The 10 overflow entries (chosen explicitly, not by
# import accident) are the best-invariant-covered assembly aggregates:
# x150-x157 plus x142/x143 — all plain groupBy/window aggregates with
# green full-registry DuckDB mirrors (tests/test_oracle_parity.py), the
# lowest-risk residue; they queue for round 6 together with round 5's
# fresh additions.
_PENDING_R5_WINDOW: tuple[str, ...] = (
    # the four round-4 streaming gates + the partitioned sink
    "x109_stream_heavy_hitters", "x120_stream_partitioned_sink",
    "x146_stream_watermark_drops", "x147_stream_outer_join",
    "x148_stream_custom_state",
    # the BPE tokenizer chain
    "x101_bpe_train", "x106_temperature_mix", "x113_tokenize_pack",
    # named high-risk in VERDICT r4 ask #2
    "x103_embedding_pca", "x104_lsh_tradeoff",
    "q85_priority_waiting", "q86_min_cost_supplier",
    "q87_excess_share_suppliers",
    "x138_equidepth_histogram", "x139_join_cardinality_eval",
    "x149_file_metadata_audit",
    # remaining round-4 additions, registry order
    "x121_ivf_partitioned_index", "x122_pq_adc_search",
    "x111_incremental_neardup", "x118_dedup_roi",
    "x107_dup_ngram_coverage", "x137_prefix_filter_join",
    "x141_simhash_hamming_pairs", "x123_epoch_mixture",
    "x124_shard_rebalance", "x125_shingle_cosine_pairs",
    "x126_token_budget_select", "x127_forget_cascade",
    "x128_budget_threshold_sweep", "x129_vocab_coverage_curve",
    "x130_mergeable_stats", "x134_token_drift", "x136_kanon_audit",
    "x140_watermark_sweep", "x144_contrastive_pairs",
    "x145_lang_similarity", "x102_ann_ndcg", "x112_langid_confusion",
    "x116_split_leakage", "x119_rerank_stage", "x117_media_shard_pack",
    "x133_media_resize", "x110_group_split", "x115_next_event_examples",
    "x114_referential_audit", "x131_hopping_window",
    "x132_activity_streaks", "x135_robust_stats",
    "x105_schema_evolution", "x108_orc_roundtrip",
)

# Deliberate round-5 overflow → round-6 gate candidates (see above).
_PENDING_R5_OVERFLOW: tuple[str, ...] = (
    "x150_bootstrap_ci", "x151_source_influence",
    "x152_weighted_median_len", "x153_session_handoff",
    "x154_session_lift", "x155_novelty_decay", "x156_user_burstiness",
    "x157_activity_concentration", "x142_volume_anomaly",
    "x143_effective_size",
)


# Round-6 sample window (VERDICT r5 ask #1): the 40 gate-unproven
# queries — the 10 pinned r5 overflow + the 30 round-5 additions
# (x158–x187) — plus EXACTLY the 10 round-6 additions (x188–x197) fill
# the 50-slot window with zero slack.  Pinned explicitly so any further
# round-6 registration queues AFTER slot 50 (an r7 candidate) instead of
# displacing an unproven entry by import-order accident.  Ordered
# newest-code-first: the round-6 additions, then the round-5 fresh set,
# then the invariant-heavy r5 overflow aggregates.
_PENDING_R6_WINDOW: tuple[str, ...] = (
    # round-6 additions: sketch audits, KMV, LR training, IVF compositions
    "x188_minhash_twin_audit", "x189_simhash_perm_audit",
    "x190_lsh_scale_audit", "x191_ann_self_recall",
    "x192_hll_error_audit", "x193_pctl_rank_audit",
    "x194_lr_quality_train", "x195_bottomk_distinct",
    "x196_ivf_bitext_mine", "x197_ivfpq_residual",
    # round-5 additions (registry order), incl. the fixed x168/x187
    "x158_tokenizer_fertility", "x159_nb_langid", "x160_dsir_select",
    "x161_hash_features", "x162_url_canon_dedup", "x163_domain_reputation",
    "x164_packing_sweep", "x165_dp_release", "x166_span_corruption",
    "x167_hard_negatives", "x168_crosslingual_margin", "x169_mmr_diversify",
    "x170_compaction_plan", "x171_bucketed_three_way", "x172_stream_neardup",
    "x173_readability", "x174_code_detect", "x175_stratified_kfold",
    "x176_label_noise_audit", "x177_rrf_fusion", "x178_chunk_coverage",
    "x179_textrank_keywords", "x180_source_overlap_sketch",
    "x181_session_perplexity", "x182_dup_span_merge", "x183_skipgram_pairs",
    "x184_length_bucketed_batching", "x185_stats_pruning_planner",
    "x186_cc_largestar", "x187_frame_dedup",
    # round-5 pinned overflow (best-invariant-covered aggregates)
    "x150_bootstrap_ci", "x151_source_influence",
    "x152_weighted_median_len", "x153_session_handoff",
    "x154_session_lift", "x155_novelty_decay", "x156_user_burstiness",
    "x157_activity_concentration", "x142_volume_anomaly",
    "x143_effective_size",
)


# Queries whose SEMANTICS (or cross-engine arithmetic path) changed in
# round 11 after they had already earned a gate row: prior evidence no
# longer speaks for the current code, so ``registry()`` treats them as
# unproven until a round ≥ 11 gate file shows them green again (then
# this set is inert and can be dropped).
_REPROVE_R11: frozenset[str] = frozenset({
    # demoted to a bounded source audit slice (VERDICT r10 ask #1) —
    # different rows than the full-corpus shape r6 proved
    "x196_ivf_bitext_mine",
    # rounding moved from Python round() (half-even) to F.round
    # (HALF_UP) + oracle chain rework (ADVICE r10) — values identical
    # by design, but the cross-engine path is new
    "x253_bpe_swap_impact",
})
_REPROVE_MIN_ROUND = 11

# Round-13 semantics changes (VERDICT r12 ask #4): x30/x133 now route
# REAL image bytes (doc_id-deterministic PPM fixtures) through the real
# pure-stdlib decoder — new output columns (pixel-sum checksums instead
# of the sha256 fake-kernel arithmetic), so their r2/r5 gate evidence no
# longer speaks for the current code.
_REPROVE_R13: frozenset[str] = frozenset({
    "x30_media_features",
    "x133_media_resize",
})
_REPROVE_R13_MIN_ROUND = 13

# Round-16 change: x26/x33 (and x186, now x26 under its old name) and
# x293 run the one shared ``dedup.connected_components`` instead of
# their own min-label and large-star loops, so their r2-r13 gate rows
# were proven on code that no longer exists.
_REPROVE_R16: frozenset[str] = frozenset({
    "x26_dedup_clusters",
    "x33_dedup_survivors",
    "x186_cc_largestar",
    "x293_image_neardup_clusters",
})
_REPROVE_R16_MIN_ROUND = 16


def _driver_evidenced(
    root: "str | None" = None, min_round: int = 0
) -> frozenset[str]:
    """Names with a green (or rows-only-by-design) row in any driver
    CORRECTNESS_r*.json at the repo root (round ≥ ``min_round``).
    Merged with the static ``_GATE_EVIDENCED`` set so the sample
    rotation can never go stale: when a new round's gate file lands,
    its queries automatically stop occupying the next round's 50-slot
    sample window (the failure mode rounds 2 and 3 each hit once with
    a hand-maintained list).  Rows with a real error (not the declared
    ``no_oracle``) or a hash mismatch stay unproven so the driver
    re-samples them."""
    import json
    import re
    from pathlib import Path

    names: set[str] = set()
    base = Path(root) if root else Path(__file__).resolve().parents[2]
    for p in sorted(base.glob("CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        # Unparseable names (e.g. CORRECTNESS_r11_retry.json) count as
        # round 0 — they must not bypass a min_round quarantine
        # (code-review r12).
        if (int(m.group(1)) if m else 0) < min_round:
            continue
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True or row.get("err") == "no_oracle":
                names.add(name)
    return frozenset(names)


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    _REGISTRY[spec.name] = spec
    return spec


def registry() -> dict[str, QuerySpec]:
    # Import side-effect modules once, on first access.
    from . import (  # noqa: F401
        assembly,
        audits,
        convert_gate,
        corpus,
        crawl,
        curation,
        dedup,
        evalsuite,
        evalsuite2,
        graph_ssl,
        modeling,
        multimodal,
        pipeline,
        preference,
        quality,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        relational7,
        retrieval,
        scale_layout,
        similarity,
        streaming_gate,
        text,
        tokenizer,
    )

    # Gate-unproven queries first (stable within each group) so the
    # driver's head-of-registry sample reaches them this round.  The
    # pinned window tuples order the pending group deliberately:
    # round-5's window puts the highest-risk unproven entries (streaming
    # gates, tokenizer chain) inside the 50-slot sample; the pinned
    # overflow queues after them, then anything newly added this round,
    # then the carried/r4-window names (all absorbed into `evidenced`
    # once their gate rows land, so these dict unions self-shrink).
    evidenced = _GATE_EVIDENCED | _driver_evidenced()
    # changed-semantics queries: old evidence is void until a gate row
    # from at/after the change re-proves the new code
    evidenced -= _REPROVE_R11 - _driver_evidenced(
        min_round=_REPROVE_MIN_ROUND
    )
    evidenced -= _REPROVE_R13 - _driver_evidenced(
        min_round=_REPROVE_R13_MIN_ROUND
    )
    evidenced -= _REPROVE_R16 - _driver_evidenced(
        min_round=_REPROVE_R16_MIN_ROUND
    )
    pending = {n: s for n, s in _REGISTRY.items() if n not in evidenced}
    carried = {n: s for n, s in pending.items() if n in _PENDING_CARRIED}
    window4 = {n: pending[n] for n in _PENDING_R4_WINDOW if n in pending}
    window5 = {n: pending[n] for n in _PENDING_R5_WINDOW if n in pending}
    window6 = {n: pending[n] for n in _PENDING_R6_WINDOW if n in pending}
    overflow5 = {n: pending[n] for n in _PENDING_R5_OVERFLOW if n in pending}
    pinned = (
        set(_PENDING_CARRIED)
        | set(_PENDING_R4_WINDOW)
        | set(_PENDING_R5_WINDOW)
        | set(_PENDING_R6_WINDOW)
        | set(_PENDING_R5_OVERFLOW)
    )
    fresh = {n: s for n, s in pending.items() if n not in pinned}
    proven = {n: s for n, s in _REGISTRY.items() if n in evidenced}
    return {
        **carried, **window4, **window5, **window6, **overflow5,
        **fresh, **proven,
    }
