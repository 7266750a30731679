"""Central query registry — the single source of truth behind
``__spark_entry__.py`` (driver contract), ``bench.py`` and the oracle
parity tests.

Every implemented operator from SURVEY.md §2 registers here with
(name, spark plan fn, optional DuckDB oracle SQL). The oracle SQL runs
against the same parquet tables; column aliases match the Spark plan
exactly so the driver's order-insensitive value-hash can line up.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL runnable by DuckDB; None → rows-only check
    tiers: tuple[str, ...] = ()  # shared tiers it reads (plans/tiers.py)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, fn: QueryFn, oracle: str | None = None, tiers: tuple[str, ...] = ()
) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    _REGISTRY[name] = Query(name, fn, oracle, tiers)


def all_queries() -> dict[str, Query]:
    _populate()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}


_POPULATED = False


def _row_green(row) -> bool:
    """A driver correctness row counts as green only if it PASSED.

    Shared with ``tools/rotation.py`` (which re-exports it): failed
    rows (err, or any ``*_match`` false) keep window priority instead
    of aging out as stale greens; a declared rows-only pass
    (``err == "no_oracle"``) is green only with rows actually produced.
    """
    if not isinstance(row, dict):
        return bool(row)
    if row.get("err"):
        return row["err"] == "no_oracle" and (row.get("spark_rows") or 0) > 0
    matches = [v for k, v in row.items() if k.endswith("_match")]
    return all(matches) if matches else True


def driver_history() -> tuple[set[str], dict[str, int]]:
    """(ever-driver-checked names, last-GREEN round per name), read
    from the ``CORRECTNESS_r*.json`` files the driver commits at the
    repo root. Empty when no files exist (fresh checkout)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        digits = "".join(c for c in os.path.basename(path) if c.isdigit())
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        rnd = int(digits or 0)
        for name, row in data.items():
            seen.add(name)
            if _row_green(row):
                last[name] = max(last.get(name, 0), rnd)
    return seen, last


def _reorder_for_window() -> None:
    """Self-maintaining correctness-window rotation (VERDICT r7 ask #1).

    The driver checks only the FIRST 50 registry entries per round, so
    order is a budget. Rather than hand-reordering register() calls
    every round, the registry re-sorts itself from the committed driver
    records: (1) never-driver-checked queries lead, in registration
    order (the test_registry_window prefix rule); (2) then checked-but-
    never-green rows (failures keep priority — none have occurred, this
    is insurance); (3) then greens by ASCENDING last-green round, ties
    in registration order — so no green row ages unchecked forever.
    With no CORRECTNESS files the order is pure registration order.
    """
    global _REGISTRY
    seen, last = driver_history()
    pos = {n: i for i, n in enumerate(_REGISTRY)}

    def key(name: str):
        if name not in seen:
            return (0, 0, pos[name])
        if name not in last:
            return (1, 0, pos[name])
        return (2, last[name], pos[name])

    _REGISTRY = {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=key)}


def _populate() -> None:
    """Import every plan module exactly once; imports self-register.

    REGISTRATION ORDER IS A CONTRACT: the driver's correctness gate
    checks the FIRST 50 registry entries each round.  Since round 8 the
    final order is COMPUTED, not hand-maintained: after all register()
    calls, :func:`_reorder_for_window` re-sorts the registry from the
    committed ``CORRECTNESS_r*.json`` records — never-driver-checked
    queries first (registration order), then oldest driver-greens — so
    the rotation discipline (r6 backlog incident, r7 freeze) holds
    automatically every round.  The register() call order below only
    breaks ties among equally-aged queries; new queries are appended to
    their thematic section and lead the window by virtue of having no
    driver row.  tests/test_registry_window.py pins the prefix rule and
    the ≤50 never-checked budget; keep new-query batches small (~10)
    so ≥40 slots keep rotating stale greens (r7 verdict ask #2).
    """
    global _POPULATED
    if _POPULATED:
        return
    _POPULATED = True

    from .plans import composition as comp
    from .plans import curation as cur
    from .plans import events_analytics as ea
    from .plans import llm_pipeline as llm
    from .plans import order_etl as oe
    from .plans import order_stats as os_
    from .plans import tpch

    # shared staging tiers (plans/tiers.py), declared on every consumer
    shingle, pair, cc = "doc_shingle_tier", "ppjoin_pair_tier", "cc_labels_tier"
    bm25, dense, lsh, ivf = (
        "bm25_topn_tier", "dense_topk_tier", "lsh_topk_tier", "ivf_topk_tier"
    )
    bpe, gate = "bpe_merges_tier", "gate_features_tier"

    # ---- round-12 registrations (3 new, under the ≤4 cap of VERDICT
    # r11 ask #2 so 46 window slots rotate the r7-stale greens):
    # the curation pipeline v2 composes the round-11 hygiene the
    # standalone queries proved matters (#238 quality-aware survivors +
    # #241 leakage-repaired split) into the shipped chain (ask #4); the
    # split-balance and funnel audits are its acceptance reports. ----
    register(
        "q_curation_pipeline_v2",
        cur.curation_pipeline_v2,
        cur.CURATION_PIPELINE_V2_SQL,
        tiers=(cc, gate),
    )
    register(
        "q_repaired_split_balance",
        cur.repaired_split_balance,
        cur.REPAIRED_SPLIT_BALANCE_SQL,
        tiers=(cc, gate),
    )
    register(
        "q_curation_funnel",
        cur.curation_funnel,
        cur.CURATION_FUNNEL_SQL,
        tiers=(shingle, cc, gate),
    )

    # ---- round-11 registrations (VERDICT r10 asks #3/#4: the BPE
    # encoder closes the tokenizer train→apply→audit loop by
    # re-tokenizing the corpus under the trained #233 merge table
    # (shared tier — the merges are learned once, applied map-side);
    # IVF-PQ adds the memory-bound product-quantized ANN serving tier
    # on top of the #43b coarse quantizer. They lead the window as
    # never-driver-checked; the remaining slots rotate the r6-stale
    # greens first (ask #2). ----
    register("q_bpe_encode", llm.bpe_encode, llm.BPE_ENCODE_SQL, tiers=(bpe,))
    register("q_knn_ivfpq", llm.knn_ivfpq, llm.KNN_IVFPQ_SQL)
    # curation-audit enrichments (4): split-leakage (pair-tier rider),
    # quality-aware survivors (clusters + #45 composition), benchmark
    # vocabulary coverage, cross-lingual embedding near-dups
    register("q_split_leakage", llm.split_leakage, llm.SPLIT_LEAKAGE_SQL, tiers=(pair,))
    register(
        "q_dedup_survivors_quality",
        llm.dedup_survivors_quality,
        llm.DEDUP_SURVIVORS_QUALITY_SQL,
        tiers=(cc, gate),
    )
    register(
        "q_benchmark_vocab_coverage",
        llm.benchmark_vocab_coverage,
        llm.BENCHMARK_VOCAB_COVERAGE_SQL,
    )
    register(
        "q_crosslingual_dups",
        llm.crosslingual_dups,
        llm.CROSSLINGUAL_DUPS_SQL,
    )
    register("q_split_repair", llm.split_repair, llm.SPLIT_REPAIR_SQL, tiers=(cc,))

    # ---- round-10 registrations (3 new, per VERDICT r9 ask #3: each
    # reuses an existing tier so marginal cost is small — semantic
    # decontamination rides the IVF assignment, BPE merge induction
    # rides the vocab tier, inference re-ranking rides the fused
    # BM25+dense top-K). They lead the window as never-driver-checked;
    # the remaining 47 slots rotate the 36 r5-stale greens first. ----
    register(
        "q_decontaminate_semantic",
        llm.decontaminate_semantic,
        llm.DECONTAMINATE_SEMANTIC_SQL,
    )
    register("q_bpe_merges", llm.bpe_merges, llm.BPE_MERGES_SQL, tiers=(bpe,))
    register(
        "q_rerank_inference",
        llm.rerank_inference,
        llm.RERANK_INFERENCE_SQL,
        tiers=(bm25, dense),
    )

    # ---- round-9 registrations (10 new: retrieval-quality diagnostics
    # — rank-biased overlap, IVF list balance, embedding dimension
    # health — plus corpus-distribution fits (JS divergence, token
    # entropy, lognormal length) and events/orders analytics
    # (burstiness, weekly decomposition, reorder rate, open-order
    # backlog). They lead the window as never-driver-checked; the
    # remaining 40 slots rotate the 26 r4-stale greens + oldest r5
    # greens via _reorder_for_window. ----
    register("q_rbo_overlap", llm.rbo_overlap, llm.RBO_OVERLAP_SQL, tiers=(bm25, dense))
    register(
        "q_embedding_dim_stats",
        llm.embedding_dim_stats,
        llm.EMBEDDING_DIM_STATS_SQL,
    )
    register("q_ivf_balance", llm.ivf_balance, llm.IVF_BALANCE_SQL)
    register("q_js_divergence", llm.js_divergence, llm.JS_DIVERGENCE_SQL)
    register("q_token_entropy", llm.token_entropy, llm.TOKEN_ENTROPY_SQL)
    register("q_length_fit", llm.length_fit, llm.LENGTH_FIT_SQL)
    register("q_burstiness", ea.burstiness, ea.BURSTINESS_SQL)
    register(
        "q_weekly_decomposition",
        ea.weekly_decomposition,
        ea.WEEKLY_DECOMPOSITION_SQL,
    )
    register("q_reorder_rate", os_.reorder_rate, os_.REORDER_RATE_SQL)
    register("q_order_backlog", os_.order_backlog, os_.ORDER_BACKLOG_SQL)

    # ---- round-8 registrations (12 new: RAG-stack completion — RRF
    # fusion, MMR re-ranking, hard negatives — plus training-data
    # schedule/eval ops and SLA + rank-correlation analytics). They
    # lead the window as never-driver-checked; the remaining 40 slots
    # rotate the r2/r3 LLM block + oldest r4 greens via
    # _reorder_for_window. ----
    register("q_hybrid_rrf", llm.hybrid_rrf, llm.HYBRID_RRF_SQL, tiers=(bm25, dense))
    register("q_hard_negatives", llm.hard_negatives, llm.HARD_NEGATIVES_SQL)
    register("q_token_fertility", llm.token_fertility, llm.TOKEN_FERTILITY_SQL)
    register("q_lang_confusion", llm.lang_confusion, llm.LANG_CONFUSION_SQL)
    register(
        "q_dedup_threshold_sweep",
        llm.dedup_threshold_sweep,
        llm.DEDUP_THRESHOLD_SWEEP_SQL,
        tiers=(pair,),
    )
    register("q_mmr_rerank", llm.mmr_rerank, llm.MMR_RERANK_SQL, tiers=(dense,))
    register(
        "q_retrieval_overlap",
        llm.retrieval_overlap,
        llm.RETRIEVAL_OVERLAP_SQL,
        tiers=(bm25, dense),
    )
    register("q_ann_recall", llm.ann_recall, llm.ANN_RECALL_SQL, tiers=(dense, lsh, ivf))
    register("q_mixture_epochs", cur.mixture_epochs, cur.MIXTURE_EPOCHS_SQL)
    register(
        "q_packing_efficiency",
        cur.packing_efficiency,
        cur.PACKING_EFFICIENCY_SQL,
    )
    register("q_order_fill_rate", os_.order_fill_rate, os_.ORDER_FILL_RATE_SQL)
    register("q_spearman_daily", os_.spearman_daily, os_.SPEARMAN_DAILY_SQL)

    # ---- round-7 window: the 50 round-6 registrations that had never
    # received a driver row (order within equal age still matters as
    # the rotation tie-break). ----
    register("q_holt_smoothing", ea.holt_smoothing, ea.HOLT_SMOOTHING_SQL)
    register("q_funnel_latency", ea.funnel_latency, ea.FUNNEL_LATENCY_SQL)
    register("q_event_trigrams", ea.event_trigrams, ea.EVENT_TRIGRAMS_SQL)
    register(
        "q_discount_elasticity",
        os_.discount_elasticity,
        os_.DISCOUNT_ELASTICITY_SQL,
    )
    register("q_cusum_revenue", os_.cusum_revenue, os_.CUSUM_REVENUE_SQL)
    register(
        "q_hhi_concentration",
        os_.hhi_concentration,
        os_.HHI_CONCENTRATION_SQL,
    )
    register(
        "q_abc_classification",
        os_.abc_classification,
        os_.ABC_CLASSIFICATION_SQL,
    )
    register(
        "q_segment_migration",
        os_.segment_migration,
        os_.SEGMENT_MIGRATION_SQL,
    )
    register("q_lorenz_curve", os_.lorenz_curve, os_.LORENZ_CURVE_SQL)
    register("q_ngram_novelty", llm.ngram_novelty, llm.NGRAM_NOVELTY_SQL, tiers=(shingle,))
    register(
        "q_lexical_diversity",
        llm.lexical_diversity,
        llm.LEXICAL_DIVERSITY_SQL,
    )
    register("q_winsorized_mean", ea.winsorized_mean, ea.WINSORIZED_MEAN_SQL)
    register("q_seasonal_anomaly", ea.seasonal_anomaly, ea.SEASONAL_ANOMALY_SQL)
    register("q_user_entropy", ea.user_entropy, ea.USER_ENTROPY_SQL)
    register("q_new_vs_returning", ea.new_vs_returning, ea.NEW_VS_RETURNING_SQL)
    register(
        "q_repeat_purchase_intervals",
        os_.repeat_purchase_intervals,
        os_.REPEAT_PURCHASE_SQL,
    )
    register(
        "q_revenue_order_crosscorr",
        os_.revenue_order_crosscorr,
        os_.REVENUE_ORDER_CROSSCORR_SQL,
    )
    register("q_session_paths", ea.session_paths, ea.SESSION_PATHS_SQL)
    register(
        "q_weekday_revenue_index",
        os_.weekday_revenue_index,
        os_.WEEKDAY_REVENUE_INDEX_SQL,
    )
    register(
        "q_part_sales_momentum",
        os_.part_sales_momentum,
        os_.PART_SALES_MOMENTUM_SQL,
    )
    register("q_pmi_pairs", llm.pmi_pairs, llm.PMI_PAIRS_SQL)
    register(
        "q_label_centroid_sim",
        llm.label_centroid_sim,
        llm.LABEL_CENTROID_SIM_SQL,
    )
    register(
        "q_dedup_containment",
        llm.dedup_containment,
        llm.DEDUP_CONTAINMENT_SQL,
        tiers=(shingle,),
    )
    register("q_user_burst_rate", ea.user_burst_rate, ea.USER_BURST_RATE_SQL)
    register(
        "q_part_price_spread",
        os_.part_price_spread,
        os_.PART_PRICE_SPREAD_SQL,
    )
    register("q_theil_index", os_.theil_index, os_.THEIL_INDEX_SQL)
    register(
        "q_behavior_archetypes",
        ea.behavior_archetypes,
        ea.BEHAVIOR_ARCHETYPES_SQL,
    )
    register(
        "q_repeat_revenue_share",
        os_.repeat_revenue_share,
        os_.REPEAT_REVENUE_SHARE_SQL,
    )
    register(
        "q_price_ending_bias",
        os_.price_ending_bias,
        os_.PRICE_ENDING_BIAS_SQL,
    )
    register(
        "q_fulfillment_stages",
        os_.fulfillment_stages,
        os_.FULFILLMENT_STAGES_SQL,
    )
    register(
        "q_engagement_revenue_corr",
        comp.engagement_revenue_corr,
        comp.ENGAGEMENT_REVENUE_CORR_SQL,
    )
    register("q_adamic_adar_links", llm.adamic_adar_links, llm.ADAMIC_ADAR_SQL, tiers=(pair,))
    register(
        "q_forecast_baselines",
        os_.forecast_baselines,
        os_.FORECAST_BASELINES_SQL,
    )
    register(
        "q_supplier_scorecard",
        os_.supplier_scorecard,
        os_.SUPPLIER_SCORECARD_SQL,
    )
    register(
        "q_event_retry_squash",
        ea.event_retry_squash,
        ea.EVENT_RETRY_SQUASH_SQL,
    )
    register(
        "q_part_name_revenue_tokens",
        os_.part_name_revenue_tokens,
        os_.PART_NAME_REVENUE_TOKENS_SQL,
    )
    register(
        "q_source_length_drift",
        llm.source_length_drift,
        llm.SOURCE_LENGTH_DRIFT_SQL,
    )
    register(
        "q_purchase_regularity",
        os_.purchase_regularity,
        os_.PURCHASE_REGULARITY_SQL,
    )
    register(
        "q_knn_label_purity",
        llm.knn_label_purity,
        llm.KNN_LABEL_PURITY_SQL,
        tiers=(dense,),
    )
    register(
        "q_type_hour_mutual_info",
        ea.type_hour_mutual_info,
        ea.TYPE_HOUR_MI_SQL,
    )
    register(
        "q_local_clustering",
        llm.local_clustering_dupgraph,
        llm.LOCAL_CLUSTERING_SQL,
        tiers=(pair,),
    )
    register("q_weekend_effect", ea.weekend_effect, ea.WEEKEND_EFFECT_SQL)
    register(
        "q_revenue_tail_index",
        os_.revenue_tail_index,
        os_.REVENUE_TAIL_INDEX_SQL,
    )
    register(
        "q_embedding_norm_profile",
        llm.embedding_norm_profile,
        llm.EMBEDDING_NORM_PROFILE_SQL,
    )
    register(
        "q_priority_mix_shift",
        os_.priority_mix_shift,
        os_.PRIORITY_MIX_SHIFT_SQL,
    )
    register(
        "q_hourly_variance_explained",
        ea.hourly_variance_explained,
        ea.HOURLY_VARIANCE_EXPLAINED_SQL,
    )
    register(
        "q_arrival_dispersion",
        ea.arrival_dispersion,
        ea.ARRIVAL_DISPERSION_SQL,
    )
    register("q_props_coverage", ea.props_coverage, ea.PROPS_COVERAGE_SQL)
    register(
        "q_top_customer_concentration",
        os_.top_customer_concentration,
        os_.TOP_CUSTOMER_CONCENTRATION_SQL,
    )
    register(
        "q_dup_rate_by_source",
        llm.dup_rate_by_source,
        llm.DUP_RATE_BY_SOURCE_SQL,
        tiers=(pair,),
    )

    # ---- 51-67: r2/r3-dated LLM remainder (oldest greens — the
    # round-8 rotation front, per VERDICT r6 ask #4) ----
    register(
        "q_dedup_minhash_lsh",
        llm.dedup_minhash_lsh,
        llm.DEDUP_MINHASH_LSH_SQL,
        tiers=(shingle,),
    )
    register("q_dedup_simhash", llm.dedup_simhash, llm.DEDUP_SIMHASH_SQL)
    register("q_dedup_embedding", llm.dedup_embedding, llm.DEDUP_EMBEDDING_SQL)
    register("q_knn_bruteforce", llm.knn_bruteforce, llm.KNN_BRUTEFORCE_SQL, tiers=(dense,))
    register("q_knn_lsh", llm.knn_lsh, llm.KNN_LSH_SQL, tiers=(lsh,))
    register("q_knn_ivf", llm.knn_ivf, llm.KNN_IVF_SQL, tiers=(ivf,))
    register("q_embed_quantize", llm.embed_quantize, llm.EMBED_QUANTIZE_SQL)
    register("q_knn_quantized", llm.knn_quantized, llm.KNN_QUANTIZED_SQL)
    register("q_semantic_dedup", llm.semantic_dedup, llm.SEMANTIC_DEDUP_SQL)
    register("q_model_score", llm.model_score, llm.MODEL_SCORE_SQL)
    register("q_embed_cluster", llm.embed_cluster, llm.EMBED_CLUSTER_SQL)
    register("q_curriculum_buckets", llm.curriculum_buckets, llm.CURRICULUM_BUCKETS_SQL)
    register("q_corpus_stats", llm.corpus_stats, llm.CORPUS_STATS_SQL)
    register("q_vocab_topk", llm.vocab_topk, llm.VOCAB_TOPK_SQL)
    register("q_lang_id", llm.lang_id, llm.LANG_ID_SQL)
    register("q_quality_score", llm.quality_score, llm.QUALITY_SCORE_SQL, tiers=(gate,))
    register("q_event_profile_sketch", ea.event_profile_sketch, None)

    # ---- Tier F: driver-green r4 ----
    register(
        "q_dedup_clusters_star",
        llm.dedup_clusters_star,
        llm.DEDUP_CLUSTERS_STAR_SQL,
        tiers=(pair,),
    )
    register("q_pii_scrub", cur.pii_scrub, cur.PII_SCRUB_SQL)
    register("q_gopher_quality", cur.gopher_quality, cur.GOPHER_QUALITY_SQL, tiers=(gate,))
    register("q_pack_sequences", cur.pack_sequences, cur.PACK_SEQUENCES_SQL)
    register("q_decontaminate", cur.decontaminate, cur.DECONTAMINATE_SQL, tiers=(shingle,))
    register("q_domain_mix", cur.domain_mix, cur.DOMAIN_MIX_SQL)
    register("q_dedup_incremental", cur.dedup_incremental, cur.DEDUP_INCREMENTAL_SQL)
    register(
        "q_curation_pipeline",
        cur.curation_pipeline,
        cur.CURATION_PIPELINE_SQL,
        tiers=(gate,),
    )
    register(
        "q_boilerplate_strip",
        cur.boilerplate_strip,
        cur.BOILERPLATE_STRIP_SQL,
    )
    register("q_tfidf_topk", llm.tfidf_topk, llm.TFIDF_TOPK_SQL)
    register(
        "q_retention_cohorts",
        ea.retention_cohorts,
        ea.RETENTION_COHORTS_SQL,
    )
    register("q_sales_cube", os_.sales_cube, os_.SALES_CUBE_SQL)
    register("q_status_pivot", os_.status_pivot, os_.STATUS_PIVOT_SQL)
    register("q_latest_event_per_user", ea.latest_event_per_user, ea.LATEST_EVENT_PER_USER_SQL)
    register("q_cdc_merge", ea.cdc_merge, ea.CDC_MERGE_SQL)
    register("q_gapfill_resample", ea.gapfill_resample, ea.GAPFILL_RESAMPLE_SQL)
    register("q_rolling_anomaly", ea.rolling_anomaly, ea.ROLLING_ANOMALY_SQL)
    register("q_dq_report", ea.dq_report, ea.DQ_REPORT_SQL)
    register("q_ab_conversion", ea.ab_conversion, ea.AB_CONVERSION_SQL)
    register("q_funnel_rates", ea.funnel_rates, ea.FUNNEL_RATES_SQL)
    register("q_user_features", ea.user_features, ea.USER_FEATURES_SQL)
    register("q_value_histogram", ea.value_histogram, ea.VALUE_HISTOGRAM_SQL)
    register("q_scd2_intervals", ea.scd2_intervals, ea.SCD2_INTERVALS_SQL)
    register("q_cascaded_reagg", ea.cascaded_reaggregate, ea.CASCADED_REAGG_SQL)
    register("q_heavy_hitters", llm.heavy_hitters, llm.HEAVY_HITTERS_SQL)
    register(
        "q_returned_item_revenue",
        tpch.returned_item_revenue,
        tpch.RETURNED_ITEM_REVENUE_SQL,
    )
    register(
        "q_profit_by_nation", tpch.profit_by_nation, tpch.PROFIT_BY_NATION_SQL
    )
    register(
        "q_parts_supplier_stats",
        tpch.parts_supplier_stats,
        tpch.PARTS_SUPPLIER_STATS_SQL,
    )
    register(
        "q_unigram_logprob", llm.unigram_logprob, llm.UNIGRAM_LOGPROB_SQL
    )
    register("q_source_kl", llm.source_kl, llm.SOURCE_KL_SQL)
    register("q_source_overlap", llm.source_overlap, llm.SOURCE_OVERLAP_SQL)
    register(
        "q_last_touch_attribution",
        ea.last_touch_attribution,
        ea.LAST_TOUCH_ATTRIBUTION_SQL,
    )
    register(
        "q_session_conversion",
        ea.session_conversion,
        ea.SESSION_CONVERSION_SQL,
    )
    register(
        "q_dedup_incremental_bloom",
        cur.dedup_incremental_bloom,
        cur.DEDUP_INCREMENTAL_BLOOM_SQL,
    )
    register("q_user_value_ewma", ea.user_value_ewma, ea.USER_VALUE_EWMA_SQL)
    register("q_dau_wau", ea.dau_wau, ea.DAU_WAU_SQL)
    register(
        "q_equidepth_histogram",
        ea.equidepth_histogram,
        ea.EQUIDEPTH_HISTOGRAM_SQL,
    )
    register("q_lineitem_corr", os_.lineitem_corr, os_.LINEITEM_CORR_SQL)
    register("q_user_trend", ea.user_trend, ea.USER_TREND_SQL)
    register(
        "q_event_rank_family", ea.event_rank_family, ea.EVENT_RANK_FAMILY_SQL
    )
    register(
        "q_multimodal_stats", llm.multimodal_stats, llm.MULTIMODAL_STATS_SQL
    )
    register(
        "q_pagerank_dupgraph",
        llm.pagerank_dupgraph,
        llm.PAGERANK_DUPGRAPH_SQL,
        tiers=(pair,),
    )
    register(
        "q_value_percentiles", ea.value_percentiles, ea.VALUE_PERCENTILES_SQL
    )
    register(
        "q_dedup_cluster_stats",
        llm.dedup_cluster_stats,
        llm.DEDUP_CLUSTER_STATS_SQL,
        tiers=(pair, cc),
    )
    register(
        "q_decontaminate_neardup",
        cur.decontaminate_neardup,
        cur.DECONTAMINATE_NEARDUP_SQL,
        tiers=(shingle,),
    )
    register(
        "q_event_transitions", ea.event_transitions, ea.EVENT_TRANSITIONS_SQL
    )
    register("q_user_outliers", ea.user_outliers, ea.USER_OUTLIERS_SQL)

    # ---- Tier 5: driver-green r5 (freshest rows — tail) ----
    register(
        "q_min_cost_supplier",
        tpch.min_cost_supplier,
        tpch.MIN_COST_SUPPLIER_SQL,
    )
    register("q_important_stock", tpch.important_stock, tpch.IMPORTANT_STOCK_SQL)
    register("q_basket_pairs", os_.basket_pairs, os_.BASKET_PAIRS_SQL)
    register("q_rfm_segments", os_.rfm_segments, os_.RFM_SEGMENTS_SQL)
    register(
        "q_shipping_delay_percentiles",
        os_.shipping_delay_percentiles,
        os_.SHIPPING_DELAY_PCTS_SQL,
    )
    register("q_fuzzy_part_match", os_.fuzzy_part_match, os_.FUZZY_PART_MATCH_SQL)
    register("q_mad_outliers", ea.mad_outliers, ea.MAD_OUTLIERS_SQL)
    register("q_max_concurrency", ea.max_concurrency, ea.MAX_CONCURRENCY_SQL)
    register("q_hourly_seasonality", ea.hourly_seasonality, ea.HOURLY_SEASONALITY_SQL)
    register("q_event_cooccurrence", ea.event_cooccurrence, ea.EVENT_COOCCURRENCE_SQL)
    register("q_activity_streaks", ea.activity_streaks, ea.ACTIVITY_STREAKS_SQL)
    register("q_bigram_logprob", llm.bigram_logprob, llm.BIGRAM_LOGPROB_SQL)
    register("q_bm25_search", llm.bm25_search, llm.BM25_SEARCH_SQL, tiers=(bm25,))
    register("q_triangle_census", llm.triangle_census, llm.TRIANGLE_CENSUS_SQL, tiers=(pair,))
    register(
        "q_customer_churn_segments",
        os_.customer_churn_segments,
        os_.CUSTOMER_CHURN_SEGMENTS_SQL,
    )
    register("q_regional_share", os_.regional_share, os_.REGIONAL_SHARE_SQL)
    register(
        "q_sales_grouping_sets",
        os_.sales_grouping_sets,
        os_.SALES_GROUPING_SETS_SQL,
    )
    register("q_zipf_fit", llm.zipf_fit, llm.ZIPF_FIT_SQL)
    register(
        "q_cumulate_window",
        ea.cumulate_window_daily,
        ea.CUMULATE_WINDOW_SQL,
    )
    register("q_chi2_independence", ea.chi2_independence, ea.CHI2_INDEPENDENCE_SQL)
    register("q_ks_drift", llm.ks_drift, llm.KS_DRIFT_SQL)
    register(
        "q_duplicated_spans",
        llm.duplicated_spans,
        llm.DUPLICATED_SPANS_SQL,
    )
    register("q_revenue_gini", os_.revenue_gini, os_.REVENUE_GINI_SQL)
    register("q_benford_digits", os_.benford_digits, os_.BENFORD_DIGITS_SQL)
    register("q_autocorr_daily", os_.autocorr_daily, os_.AUTOCORR_DAILY_SQL)
    register("q_weighted_sample", llm.weighted_sample, llm.WEIGHTED_SAMPLE_SQL)
    register("q_dupgraph_degrees", llm.dupgraph_degrees, llm.DUPGRAPH_DEGREES_SQL, tiers=(pair,))
    register("q_ohlc_bars", ea.ohlc_bars, ea.OHLC_BARS_SQL)
    register("q_time_weighted_avg", ea.time_weighted_avg, ea.TIME_WEIGHTED_AVG_SQL)
    register("q_fk_integrity", os_.fk_integrity, os_.FK_INTEGRITY_SQL)
    register("q_token_count", llm.token_count, llm.TOKEN_COUNT_SQL)
    register("q_doc_fingerprint", llm.doc_fingerprint, llm.DOC_FINGERPRINT_SQL)
    register("q_doc_chunking", llm.doc_chunking, llm.DOC_CHUNKING_SQL)
    register("q_train_val_split", llm.train_val_split, llm.TRAIN_VAL_SPLIT_SQL)
    register("q_dedup_survivors", llm.dedup_survivors, llm.DEDUP_SURVIVORS_SQL, tiers=(pair,))
    register("q_sales_rollup", os_.sales_rollup, os_.SALES_ROLLUP_SQL)
    register("q_event_profile", ea.event_profile, ea.EVENT_PROFILE_SQL)
    register("q_order_stats_daily", os_.order_stats_daily, os_.ORDER_STATS_DAILY_SQL)
    register("q_user_order_stats", os_.user_order_stats, os_.USER_ORDER_STATS_SQL)
    register("q_item_sales_stats", os_.item_sales_stats, os_.ITEM_SALES_STATS_SQL)
    register("q_status_distribution", os_.status_distribution, os_.STATUS_DISTRIBUTION_SQL)
    register("q_top_parts_per_segment", os_.top_parts_per_segment, os_.TOP_PARTS_PER_SEGMENT_SQL)
    register("q_dedup_clusters", llm.dedup_clusters, llm.DEDUP_CLUSTERS_SQL, tiers=(cc,))
    register("q_stratified_sample", llm.stratified_sample, llm.STRATIFIED_SAMPLE_SQL)
    register(
        "q_event_funnel", ea.event_funnel, ea.EVENT_FUNNEL_SQL
    )
    register(
        "q_funnel_abandonment", ea.funnel_abandonment, ea.FUNNEL_ABANDONMENT_SQL
    )
    register(
        "q_order_json_roundtrip",
        oe.order_json_roundtrip,
        oe.ORDER_JSON_ROUNDTRIP_SQL,
    )
    register("q_union_activity", comp.union_activity, comp.UNION_ACTIVITY_SQL)
    register(
        "q_cogroup_user_activity",
        comp.cogroup_user_activity,
        comp.COGROUP_USER_ACTIVITY_SQL,
    )
    register("q_running_total", comp.running_total, comp.RUNNING_TOTAL_SQL)

    # ---- driver-green r6 (freshest rows — tail). Sub-blocks keep
    # their r6-window structure for greppability. ----
    # r5 trio (green r6)
    register("q_forecast_revenue", tpch.forecast_revenue, tpch.FORECAST_REVENUE_SQL)
    register("q_promo_suppliers", tpch.promo_suppliers, tpch.PROMO_SUPPLIERS_SQL)
    register("q_lpa_communities", llm.lpa_communities, llm.LPA_COMMUNITIES_SQL, tiers=(pair,))

    # Tier N: registered r6, green r6
    register(
        "q_weighted_percentiles",
        os_.weighted_percentiles,
        os_.WEIGHTED_PERCENTILES_SQL,
    )
    register("q_skyline_parts", os_.skyline_parts, os_.SKYLINE_PARTS_SQL)
    register(
        "q_duplicate_payments",
        os_.duplicate_payments,
        os_.DUPLICATE_PAYMENTS_SQL,
    )
    register("q_kaplan_meier", os_.kaplan_meier, os_.KAPLAN_MEIER_SQL)
    register("q_cohort_ltv", os_.cohort_ltv, os_.COHORT_LTV_SQL)
    register("q_mann_kendall", ea.mann_kendall, ea.MANN_KENDALL_SQL)
    register("q_interevent_gaps", ea.interevent_gaps, ea.INTEREVENT_GAPS_SQL)
    register("q_roc_auc", ea.roc_auc, ea.ROC_AUC_SQL)
    register("q_kcore_dupgraph", llm.kcore_dupgraph, llm.KCORE_DUPGRAPH_SQL, tiers=(pair,))
    register(
        "q_dupgraph_assortativity",
        llm.dupgraph_assortativity,
        llm.DUPGRAPH_ASSORTATIVITY_SQL,
        tiers=(pair,),
    )
    register("q_flesch_reading", llm.flesch_reading, llm.FLESCH_READING_SQL)
    register("q_normalized_dedup", llm.normalized_dedup, llm.NORMALIZED_DEDUP_SQL)
    register("q_psi_batch", llm.psi_batch, llm.PSI_BATCH_SQL)
    register(
        "q_cluster_silhouette",
        llm.cluster_silhouette,
        llm.CLUSTER_SILHOUETTE_SQL,
    )

    # Tier R: r3-dated rotation, refreshed green r6
    register(
        "q_sql_pricing_summary",
        tpch.pricing_summary,
        tpch.PRICING_SUMMARY_SQL,
    )
    register(
        "q_shipping_priority",
        tpch.shipping_priority,
        tpch.SHIPPING_PRIORITY_SQL,
    )
    register(
        "q_local_supplier_volume",
        tpch.local_supplier_volume,
        tpch.LOCAL_SUPPLIER_VOLUME_SQL,
    )
    register("q_market_share", tpch.market_share, tpch.MARKET_SHARE_SQL)
    register(
        "q_order_priority_check",
        tpch.order_priority_check,
        tpch.ORDER_PRIORITY_CHECK_SQL,
    )
    register(
        "q_customer_order_distribution",
        tpch.customer_order_distribution,
        tpch.CUSTOMER_ORDER_DISTRIBUTION_SQL,
    )
    register(
        "q_large_volume_orders",
        tpch.large_volume_orders,
        tpch.LARGE_VOLUME_ORDERS_SQL,
    )
    register(
        "q_dormant_high_value",
        tpch.dormant_high_value,
        tpch.DORMANT_HIGH_VALUE_SQL,
    )
    register("q_volume_shipping", tpch.volume_shipping, tpch.VOLUME_SHIPPING_SQL)
    register(
        "q_promo_revenue_share",
        tpch.promo_revenue_share,
        tpch.PROMO_REVENUE_SHARE_SQL,
    )
    register("q_top_supplier", tpch.top_supplier, tpch.TOP_SUPPLIER_SQL)
    register(
        "q_small_quantity_revenue",
        tpch.small_quantity_revenue,
        tpch.SMALL_QUANTITY_REVENUE_SQL,
    )
    register(
        "q_disjunctive_revenue",
        tpch.disjunctive_revenue,
        tpch.DISJUNCTIVE_REVENUE_SQL,
    )
    register(
        "q_sole_returner_suppliers",
        tpch.sole_returner_suppliers,
        tpch.SOLE_RETURNER_SUPPLIERS_SQL,
    )

    # relational core (SURVEY §2 #1-6, #20)
    register("q_select_project", ea.select_project, ea.SELECT_PROJECT_SQL)
    register("q_filter_pushdown", ea.filter_pushdown, ea.FILTER_PUSHDOWN_SQL)
    register("q_flatmap_words", ea.flatmap_words, ea.FLATMAP_WORDS_SQL)
    register("q_keyby_agg", ea.keyby_agg, ea.KEYBY_AGG_SQL)
    register("q_validate_clean", ea.validate_clean, ea.VALIDATE_CLEAN_SQL)
    register("q_side_output_errors", ea.side_output_errors, ea.SIDE_OUTPUT_ERRORS_SQL)
    register("q_json_etl", ea.json_etl, ea.JSON_ETL_SQL)

    # windows (#10-14)
    register("q_tumbling_window", ea.tumbling_window, ea.TUMBLING_WINDOW_SQL)
    register("q_sliding_window", ea.sliding_window, ea.SLIDING_WINDOW_SQL)
    register("q_session_window", ea.session_window, ea.SESSION_WINDOW_SQL)
    register("q_count_window_tumbling", ea.count_window_tumbling, ea.COUNT_WINDOW_TUMBLING_SQL)
    register("q_count_window_sliding", ea.count_window_sliding, ea.COUNT_WINDOW_SLIDING_SQL)

    # joins (#16-19)
    register("q_lookup_join", os_.lookup_join, os_.LOOKUP_JOIN_SQL)
    register("q_window_join", ea.window_join, ea.WINDOW_JOIN_SQL)
    register("q_interval_join", ea.interval_join, ea.INTERVAL_JOIN_SQL)
    register("q_asof_join", ea.asof_join, ea.ASOF_JOIN_SQL)

    # first dedup block (#37-38b) — fills the window to exactly 50
    register("q_dedup_exact", llm.dedup_exact, llm.DEDUP_EXACT_SQL)
    register(
        "q_dedup_ngram_jaccard",
        llm.dedup_ngram_jaccard,
        llm.DEDUP_NGRAM_JACCARD_SQL,
        tiers=(pair,),
    )
    register("q_dedup_snm", llm.dedup_snm, llm.DEDUP_SNM_SQL)

    _reorder_for_window()
