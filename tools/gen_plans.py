#!/usr/bin/env python
"""Generate PLANS.md: condensed physical-plan evidence for headline queries.

For each query: scans (columns read + pushed/partition filters), join
strategies, exchange count, Python-eval nodes, codegen span count — the
facts that determine 100 TB behavior, extracted from the executed plan.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamming_processing_pyspark_spark.plans.explain import (
    executed_plan_string,
    plan_string,
)
from streamming_processing_pyspark_spark.registry import build_queries
from streamming_processing_pyspark_spark.session import get_spark

QUERIES = [
    "hourly_counts",
    "geofence_hourly_counts",
    "trending",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "orders_topk",
    "sessionize_events",
    "asof_latest_order",
    "word_counts",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "repetition_filter",
    "stratified_sample",
    "token_pack_bins",
    "heavy_hitter_bigrams",
    "regex_scrub",
    "q4_priority_late_ship",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q22_idle_wealthy_customers",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q15_top_supplier",
    "q19_discounted_revenue",
    "doc_chunks",
    "embedding_quantize",
    "benchmark_contamination",
    "sliding_hourly_counts",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "filtered_cosine_topk",
    "event_transitions",
    "event_path_trigrams",
    "conversion_latency",
    "hourly_count_anomalies",
    "hll_user_sketches",
    "bitmap_distinct_users",
    "user_event_paths",
    "corr_qty_price_by_flag",
    "value_histogram",
    "salted_customer_join",
    "span_dedup",
    "knn_join_topk",
    "geomean_value_by_type",
    "lsh_bucketed_pairs",
    "ivf_topk",
    "label_centroid_sim",
    "token_budget_sample",
    "approx_percentiles_by_type",
    "hll_vs_exact_distinct",
    "minhash_recall_check",
    "ivf_recall_check",
    "lsh_subset_check",
    "simhash_locality_check",
    "approx_percentile_rank_check",
    "shard_shuffle_assign",
    "incremental_exact_dedup",
    "incremental_minhash_pairs",
    "incremental_ingest_check",
    "leakage_safe_split",
    "perplexity_buckets",
    "quality_classifier_scores",
    "source_cap_sample",
    "ewma_hourly_value",
    "semantic_dedup_pairs",
    "bm25_search",
    "hybrid_search_rrf",
    "quality_mass_filter",
    "pagerank_event_types",
    "weighted_sample_per_lang",
    "gopher_quality_flags",
    "pq_topk",
    "pq_recall_check",
    "user_scd2_intervals",
    "vocab_coverage",
    "value_drift_ks",
    "dedup_graph_stats",
    "filter_agreement_kappa",
    "value_ohlc_5min",
    "value_winsorize",
    "dedup_clusters_minhash_check",
    "dedup_campaign_summary",
    "referral_chain_depths",
    "variant_props_metrics",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_returnflag_priority",
    "q16_supplier_part_counts",
    "q20_excess_shipped",
    "q21_waiting_suppliers",
    "cms_bigram_check",
    "quality_filtered_ann",
    "label_balanced_sample",
    "dsir_resample",
    "temperature_mix_sample",
    "bloom_prefilter_check",
    "cosine_range_search",
    "source_overlap_matrix",
    "psi_value_drift",
    "shingle_novelty_scores",
    "cdc_chunks",
    "kl_source_divergence",
    "sorted_neighborhood_pairs",
    "kmv_type_overlap",
    "cms_join_size_check",
    "epoch_upsample_manifest",
    "hourly_value_interpolated",
    "lm_bigram_nll",
    "bpe_encode_stats",
    "tokenizer_fertility",
    "doremi_mixture_weights",
    "bradley_terry_event_prefs",
    "kcenter_coreset",
    "k_anonymity_check",
    "hard_negative_mining",
    "woe_value_bins",
    "target_encode_oof",
    "lsh_query_topk",
    "sql_value_ntiles",
    "lateral_topk_per_type",
    "hourly_count_anomalies_mad",
    "zipf_alpha",
    "peak_concurrency",
    "markov_attribution",
    "cusum_changepoint_hours",
    "lagged_crosscorr",
    "value_band_pairs",
    "dataset_card_rollup",
    "mutual_info_type_bucket",
    "mmr_diverse_topk",
    "merge_upsert_orders",
    "knn_graph_triangles",
    "label_propagation_knn",
    "km_conversion_survival",
    "poisson_bootstrap_ci",
    "bigram_pmi_topk",
    "basket_pair_lift",
    "partition_layout_plan",
    "funnel_with_deadlines",
    "pareto_front_orders",
    "classifier_calibration_bins",
    "er_match_scores",
    "embedding_centroid_drift",
    "twap_daily_value",
    "cohort_ltv_cents",
    "conditional_entropy_next_event",
    "rfm_segments",
    "nation_revenue_gini",
    "benford_first_digit",
    "classifier_decile_lift",
    "rolling_7d_active_users",
    "seasonality_profile",
    "burst_users_audit",
    "referential_integrity_audit",
    "dup_leakage_matrix",
    "dup_leakage_matrix_minhash",
    "lsh_pairs_at_theta",
    "embedding_dim_stats",
    "zorder_cluster_assign",
    "packing_efficiency_report",
    "text_compression_ratio",
    "anonymization_ladder",
    "token_budget_waterfill",
    "dedup_cluster_size_histogram",
    "asof_next_event",
    "exact_percentiles_by_type",
    "ivfpq_topk",
    "ivfpq_recall_check",
    "embedding_whiten_audit",
    "embedding_gram_offdiag_topk",
    "token_len_percentiles_by_source",
    "dedup_survivorship_by_source",
    "context_fit_report",
    "source_share_drift",
    "ship_lag_profile",
    "customer_revenue_deciles",
    "inter_event_time_histogram",
    "prefix_dup_groups",
    "doc_length_gini_by_source",
    "winnow_fingerprint_pairs",
    "winnow_sampler_stats",
    "distinct_ngram_diversity",
    "curriculum_stage_assign",
    "order_backlog_aging",
    "dedup_clusters_star",
    "near_dup_threshold_sweep",
    "langid_confusion_matrix",
    "join_key_skew_report",
    "er_entity_clusters",
    "incremental_winnow_novelty",
    "resize_plan",
    # round-9 batch
    "near_dup_threshold_sweep_check",
    "er_candidate_pairs",
    "er_match_clusters",
    "whiten_check",
    "simhash_near_dup_pairs",
    "containment_pairs",
    "matryoshka_fidelity_report",
    # round-10 batch: banded containment production path, IVF-routed
    # kNN/hard-negative twins, ANN edge agreement, partitioned SN scan
    "containment_pairs_banded",
    "containment_recall_check",
    "ann_knn_topk",
    "hard_negative_mining_ann",
    "knn_edge_agreement_check",
    "sorted_neighborhood_pairs",
    "bitext_margin_pairs",
    "bitext_margin_pairs_ann",
    # round-11 batch: capped+refined ER blocking (no vocab broadcast),
    # sub-band-refined simhash, the non-vacuous SemDeDup-threshold twin,
    # the incremental semantic ingest rung
    "name_near_dup_pairs",
    "embedding_near_dup_pairs_theta",
    "incremental_semantic_pairs",
    "incremental_semantic_check",
]

SF_DIR = "/root/testdata/sf0.01"

#: queries whose returned DataFrame is a driver-side fixpoint result — the
#: corpus-sized work runs in the jobs that feed the loop, not in the final
#: (local-table) plan, so the bare shuffle count would mislead
NOTES = {
    "dedup_clusters_star": (
        "- NOTE: result is the converged star-edge set (localCheckpoint-"
        "backed), so the final plan is label-sized; the corpus-sized work "
        "is the pair discovery feeding round 1, and every later round's "
        "two shuffles are sized by the CONTRACTING edge set"
    ),
    "bpe_learn_merges": (
        "- NOTE: result is the driver-side merge loop's table; the corpus-"
        "sized stage is the word-frequency aggregation + TakeOrdered cap "
        "that feeds it (see bpe_encode_stats for the distributed plan)"
    ),
    "doremi_mixture_weights": (
        "- NOTE: result is the S-row multiplicative-weights fixpoint; the "
        "corpus-sized stage is the per-source NLL fold (scan documents -> "
        "2 map-combined shuffles + broadcast total) that feeds it"
    ),
    "bradley_terry_event_prefs": (
        "- NOTE: result is the E-row MM fixpoint; the corpus-sized stage is "
        "one user_id window shuffle + map-combined (winner, loser) groupBy "
        "that feeds it"
    ),
    "markov_attribution": (
        "- NOTE: result is the per-channel absorbing-chain fixpoint; the "
        "corpus-sized stage is one user_id journey-window shuffle + "
        "map-combined edge groupBy that feeds it"
    ),
    "mmr_diverse_topk": (
        "- NOTE: result is the driver-side greedy over the collected "
        "MMR_POOL rows; the corpus-sized stage is the exact-cosine "
        "TakeOrdered pool selection that feeds it (fold-dot scan + "
        "per-partition heaps, no global sort)"
    ),
    "pareto_front_orders": (
        "- NOTE: the unpartitioned skyline window is deliberate at test "
        "scale; at 100 TB the same algebra runs over a range-partitioned "
        "cents sort with a per-boundary suffix-max carry (docstring)"
    ),
    "whiten_check": (
        "- NOTE: result is a 1-row local claim table; the corpus-sized "
        "work is the TWO map-only moment passes (model + verification), "
        "each pre-reduced ON THE EXECUTORS to <= MOMENT_REDUCE_GROUPS "
        "keyed partials before the O(R*d^2) driver collect (r9: driver "
        "bytes are f(d, R), independent of input partition count)"
    ),
}


def summarize_scans(formatted: str) -> list[str]:
    """Scan details from the formatted plan (the executed-plan toString
    truncates ReadSchema/PushedFilters)."""
    out = []
    lines = formatted.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"InMemoryFileIndex \[[^\]]*/(\w+)\.parquet", ln)
        if not m:
            continue
        block = "\n".join(lines[max(0, i - 3) : i + 4])
        cols = re.search(r"ReadSchema: struct<([^\n]*)>", block)
        pushed = re.search(r"PushedFilters: (\[[^\n\]]*\])", block)
        colnames = (
            [c.split(":")[0].strip() for c in cols.group(1).split(",") if c.strip()]
            if cols
            else []
        )
        out.append(
            f"- scan `{m.group(1)}` → cols {colnames}"
            + (f", pushed {pushed.group(1)}" if pushed else "")
        )
    return out


def summarize(plan: str) -> list[str]:
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    out = []
    for ln in lines:
        s = ln.strip().lstrip("+-:* ()0123456789")
        for marker in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "TakeOrderedAndProject",
            "MapInPandas",
            "FlatMapCoGroupsInPandas",
            "BatchEvalPython",
            "ArrowEvalPython",
            "Window",
        ):
            if s.startswith(marker):
                out.append(f"- {marker}: `{s[:140]}`")
                break
    n_ex = final.count("Exchange hashpartitioning") + final.count(
        "Exchange rangepartitioning"
    )
    n_codegen = len(set(re.findall(r"\*\((\d+)\)", final)))
    out.append(f"- shuffles: {n_ex}, codegen spans: {n_codegen}")
    return out


def aqe_skew_demo(spark) -> list[str]:
    """Executed-plan evidence for AQE's AUTOMATIC skew-join split (the
    runtime complement to the deterministic salting in
    analytics2.salted_customer_join): a join where half
    the probe rows share one key, run under proportionally lowered skew
    thresholds (the demo is ~MBs where production partitions are ~GBs),
    must show SortMergeJoin(skew=true) + skewed AQEShuffleRead — pinned
    by tests/test_plans.py::test_aqe_splits_skewed_join_partition."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "64",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.pmod("id", F.lit(5000)))
            .alias("k"),
            F.repeat(F.md5(F.col("id").cast("string")), 8).alias("pad"),
        )
        dim = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        plan = executed_plan_string(fact.join(dim, "k"))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    final = plan.split("== Initial Plan ==")[0]
    out = ["## aqe_skew_join_demo (synthetic, not a registry query)\n"]
    out.append(
        "- setup: 300k-row fact, 50% of rows on ONE key, broadcast join"
        " disabled, skew thresholds scaled to the demo's MB-sized"
        " partitions (512k/256k/2x; production keeps Spark's 256m/64m/5x"
        " defaults)"
    )
    for ln in final.splitlines():
        s = ln.strip().lstrip("+-:* ()0123456789")
        if s.startswith("SortMergeJoin") or "AQEShuffleRead" in s:
            out.append(f"- `{s[:150]}`")
    assert any("skew=true" in ln for ln in out), "AQE skew split missing"
    out.append(
        "- verdict: AQE split the hot partition at runtime (skew=true,"
        " skewed AQEShuffleRead) — no manual salting needed on the"
        " automatic path; salted_customer_join remains the deterministic"
        " variant for joins where AQE can't see the skew (e.g. broadcast-"
        "disabled stream-static)"
    )
    out.append("")
    return out


def zorder_pruning_demo(spark) -> list[str]:
    """Executed evidence that the Z-ordered LAYOUT delivers scan pruning —
    not just that the Morton codes are computed (zorder_cluster_assign is
    the oracle-checked planning report; this writes the clustered parquet
    with storage.write_zordered and shows the payoff). A narrow range
    predicate on EITHER interleaved dimension must touch a strict subset
    of files (min/max row-group stats answer the pushed filter for the
    untouched ones), while the single-column range-clustered layout only
    prunes for its own column. Pinned by
    tests/test_storage.py::test_zordered_layout_skips_files_on_both_dims.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from streamming_processing_pyspark_spark.storage import (
        write_range_clustered,
        write_zordered,
    )
    from streamming_processing_pyspark_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value"
    )
    work = tempfile.mkdtemp(prefix="zorder_plans_")
    out = ["## zorder_layout_pruning_demo (storage.write_zordered)\n"]
    try:
        zp, rp = os.path.join(work, "ev_z"), os.path.join(work, "ev_r")
        write_zordered(ev, zp, "user_id", "value", n_files=16)
        write_range_clustered(ev, rp, "user_id", n_files=16)
        back, rback = spark.read.parquet(zp), spark.read.parquet(rp)
        n_files = back.select(F.input_file_name()).distinct().count()
        # int literal for the long column — a double literal would wrap the
        # column in a cast and kill parquet pushdown
        cut_u = int(ev.approxQuantile("user_id", [0.05], 0.0)[0])
        cut_v = ev.approxQuantile("value", [0.05], 0.0)[0]
        out.append(
            f"- layout: {n_files} z-ordered files on (user_id, value); "
            "probe = 5th-percentile range predicate per dimension"
        )
        for col, cut in (("user_id", cut_u), ("value", cut_v)):
            q = back.where(F.col(col) <= cut)
            pushed = re.search(
                r"PushedFilters: (\[[^\n\]]*\])", plan_string(q)
            )
            hit = q.select(F.input_file_name()).distinct().count()
            out.append(
                f"- z-layout `{col} <= p05`: files with matching rows "
                f"{hit}/{n_files}"
                + (f", pushed {pushed.group(1)}" if pushed else "")
            )
        r_hit = (
            rback.where(F.col("value") <= cut_v)
            .select(F.input_file_name())
            .distinct()
            .count()
        )
        r_files = rback.select(F.input_file_name()).distinct().count()
        out.append(
            f"- range-clustered-on-user_id control, `value <= p05`: "
            f"{r_hit}/{r_files} files — NO pruning for the off-layout "
            "column; Z-order prunes on both"
        )
        out.append(
            "- verdict: the pushed range filter + per-file min/max from "
            "the Morton sort skip most files on EITHER dimension — the "
            "OPTIMIZE ZORDER payoff, demonstrated on the written layout"
        )
        out.append("")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark(app_name="gen_plans")
    qs = build_queries()
    parts = [
        "# PLANS — executed physical-plan evidence (sf0.01, AQE final plans)\n",
        "Generated by tools/gen_plans.py. For each headline query: what the",
        "scan reads, what got pushed down, how joins were planned, how many",
        "shuffles run, and whether Python appears in the pipeline.\n",
    ]
    for name in QUERIES:
        df = qs[name](spark, SF_DIR)
        formatted = plan_string(df)
        plan = executed_plan_string(df)
        parts.append(f"## {name}\n")
        parts.extend(summarize_scans(formatted))
        parts.extend(summarize(plan))
        if name in NOTES:
            parts.append(NOTES[name])
        parts.append("")
    parts.extend(aqe_skew_demo(spark))
    parts.extend(zorder_pruning_demo(spark))
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(parts) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
