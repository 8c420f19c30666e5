#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "headline_suite", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...}

Each query is materialized with a noop sink (full execution, no driver
transfer). Baseline context (BASELINE.md): the reference's Task4 pipeline
ran ≈3,400 rows/s on 417k rows; `events_rows_per_sec` here is the comparable
figure for our full classify+window+count pipeline over `events`.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

# Pin BLAS pools to one thread BEFORE numpy loads anywhere (driver or the
# forked Python workers): the BLAS-backed pandas-UDF stages already run one
# task per core, so nested BLAS threading (32 workers × N threads) only
# thrashes the scheduler.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamming_processing_pyspark_spark.registry import build_queries
from streamming_processing_pyspark_spark.session import get_spark
from streamming_processing_pyspark_spark.tables import (
    DEFAULT_SF_DIR,
    clear_all,
    load_table,
)
from streamming_processing_pyspark_spark.taxi_datagen import generate_taxi_day

# iters≥3 so the carried median isn't hostage to one bad run on a shared
# host (r4: vocab_coverage median 2.55 s vs min 1.31 s at iters=2)
N_ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

HEADLINE = [
    # reference-surface queries
    "hourly_counts_by_key",
    "geofence_hourly_counts",
    "trending",
    # relational
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "running_order_totals",
    "sessionize_events",
    "asof_latest_order",
    # text / dedup / similarity
    "word_counts",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "cosine_topk",
    "ivf_topk",
    "embedding_near_dup_pairs",
    "multimodal_features",
    # training-data pipeline
    "repetition_filter",
    "token_pack_bins",
    "heavy_hitter_bigrams",
    "dedup_clusters",
    "shard_shuffle_assign",
    "incremental_exact_dedup",
    "incremental_minhash_pairs",
    "leakage_safe_split",
    "data_quality_checks",
    "doc_chunks",
    "benchmark_contamination",
    "q7_volume_shipping",
    "span_dedup",
    "knn_join_topk",
    "semantic_dedup_pairs",
    "perplexity_buckets",
    "quality_classifier_scores",
    "ewma_hourly_value",
    "pagerank_event_types",
    "source_cap_sample",
    "quality_mass_filter",
    "bm25_search",
    "hybrid_search_rrf",
    "weighted_sample_per_lang",
    "gopher_quality_flags",
    "pq_topk",
    "vocab_coverage",
    "value_drift_ks",
    "user_scd2_intervals",
    "dedup_campaign_summary",
    "q21_waiting_suppliers",
    "cms_bigram_check",
    "observed_gate_metrics",
    # round-5 additions: mixing, join prefilter, range search, overlap
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
    "bpe_merge_candidates",
    "bpe_learn_merges",
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
    # round-6 additions: change detection, survival, graph, retrieval,
    # bootstrap, warehouse upsert
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
    # round-7 additions: activity windows, audits, layout, efficiency
    "rolling_7d_active_users",
    "seasonality_profile",
    "burst_users_audit",
    "referential_integrity_audit",
    "dup_leakage_matrix",
    "embedding_dim_stats",
    # round-8 additions: banded-source leakage matrix, exercised-threshold
    # LSH pairs
    "dup_leakage_matrix_minhash",
    "lsh_pairs_at_theta",
    # round-11: multi-probe recall tier + contract
    "lsh_multiprobe_pairs",
    "lsh_multiprobe_recall_check",
    "zorder_cluster_assign",
    "packing_efficiency_report",
    "text_compression_ratio",
    "anonymization_ladder",
    "token_budget_waterfill",
    "dedup_cluster_size_histogram",
    "asof_next_event",
    "exact_percentiles_by_type",
    # round-8 batch: ANN composition + whitening, corpus audits, warehouse
    # concentration/latency
    "ivfpq_topk",
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
    # round-8 second wave: winnowing, star CC, diversity, curriculum,
    # backlog aging
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
    # round-9 batch: banded sweep + exact twin, ER union/match-tier,
    # driver-bounded whitening contract
    "near_dup_threshold_sweep_check",
    "er_candidate_pairs",
    "er_match_clusters",
    "whiten_check",
    "simhash_near_dup_pairs",
    "containment_pairs",
    "matryoshka_fidelity_report",
    # round-10 batch: banded containment production path + contract,
    # IVF-routed kNN/hard-negative production twins + edge agreement
    "containment_pairs_banded",
    "containment_recall_check",
    "ann_knn_topk",
    "hard_negative_mining_ann",
    "knn_edge_agreement_check",
    "bitext_margin_pairs",
    "bitext_margin_pairs_ann",
]

#: FINAL-LINE COMPARISON SET (round 12, VERDICT r11 §1). The external
#: driver tail-captures stdout and parses the LAST line only; the old
#: code popped `queries` entries until the line fit 1800 chars, so HOW
#: MANY queries the driver could compare round-over-round depended on how
#: long the run's `noisy`/`contention_suspects` name lists happened to be
#: (43 shown in r11 vs 48 in r10 — five queries silently lost their
#: comparison). The final line now carries exactly this FIXED prefix of
#: HEADLINE (the same first-48 set r10 showed, in the same declared
#: order) at 2-decimal precision; name lists are replaced by counts.
#: Full-precision timings for ALL queries stay on the detail line and in
#: BENCH_DETAIL.json, as before. Additions to HEADLINE append after
#: index 48 and do not perturb this set.
FINAL_LINE_COUNT = 48


def taxi_replay_rows_per_sec() -> tuple[int, float, float]:
    """The reference's own workload, end-to-end: streamed minute-file CSVs →
    classify → 10-min windowed counts per geofence → per-batch trend detect
    (Task4 pipeline). Directly comparable to BASELINE.md's ≈3,400 rows/s
    (same batch size: maxFilesPerTrigger=60 ≈ 18k rows/batch; the baseline
    figure is likewise derived from steady-state batches, excluding the
    8.92 s cold batch 0 — so `steady` is the apples-to-apples number).

    Replay tuning (matters at this state size, not a benchmark trick):
    4 shuffle/state partitions — the aggregate state is ≤ |geofences| ×
    |10-min windows| rows, so 32+ partitions is pure task overhead (the
    reference paid 200).
    """
    import shutil
    import tempfile

    from streamming_processing_pyspark_spark.sources.taxi_csv import (
        normalize_trips,
        stream_taxi_csv,
    )
    from streamming_processing_pyspark_spark.streaming.jobs import (
        detect_trends_in_batch,
        geofence_10min_counts,
        run_foreach_batch,
    )

    spark = get_spark(app_name="bench")
    spark.catalog.clearCache()
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    work = tempfile.mkdtemp(prefix="taxi_bench_")
    try:
        data_dir = os.path.join(work, "data")
        n_rows = generate_taxi_day(data_dir, rows_per_minute=300, minutes=480)
        trips = normalize_trips(stream_taxi_csv(spark, data_dir, 60))
        agg = geofence_10min_counts(trips)
        alerts: list[int] = []
        batch_ends: list[float] = []

        def sink(batch_df, _batch_id):
            alerts.append(detect_trends_in_batch(batch_df).count())
            batch_ends.append(time.perf_counter())

        t0 = time.perf_counter()
        q = run_foreach_batch(agg, sink, "update")
        q.processAllAvailable()
        q.stop()
        elapsed = time.perf_counter() - t0
        # steady state = batches after the first (cold) one, like BASELINE.md
        rows_per_batch = n_rows / max(len(batch_ends), 1)
        steady = (
            rows_per_batch * (len(batch_ends) - 1) / (batch_ends[-1] - batch_ends[0])
            if len(batch_ends) > 1
            else n_rows / elapsed
        )
        return n_rows, round(n_rows / elapsed), round(steady)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def prior_round_floors() -> dict:
    """Per-query min (and replay steady rows/s) from COMMITTED
    BENCH_DETAIL.json history (``git show`` — the working-tree copy may
    be a noisy local run; committed ones are prior rounds' accepted
    clean figures).

    Purpose (VERDICT r7 §1): the within-query noise detector can't see a
    sustained external CPU burst that slows ALL of a query's iterations
    uniformly — r7 recorded 3 queries at 2-4× their true time that way.
    A cross-ROUND floor can: a query whose best-of-N exceeds the prior
    round's recorded min by >1.5× is re-measured at end-of-suite before
    the JSON is written; still-slow queries are declared as
    ``regression_suspects``, recovered ones as ``contention_suspects``.

    Replay floor hardening (VERDICT r9 §5): per-query mins come from
    HEAD as before, but ``taxi_replay_steady_rows_per_sec`` is the MAX
    over the last ``REPLAY_FLOOR_ROUNDS`` committed versions of the
    detail file — a slow round can no longer ratchet the floor down and
    hide a real regression inside the slack on the next one. (The r8→r9
    −11% steady drift itself was root-caused to host variance: git
    shows ZERO code change on the replay path between the two rounds,
    and fresh-process re-measures on the current host reproduce the r9
    figure, not the r8 one.)
    """
    import subprocess

    root = os.path.dirname(os.path.abspath(__file__))

    def show(rev: str) -> dict | None:
        try:
            out = subprocess.run(
                ["git", "-C", root, "show", f"{rev}:BENCH_DETAIL.json"],
                capture_output=True, text=True, timeout=30,
            )
            if out.returncode != 0:
                return None
            data = json.loads(out.stdout)
            return data if isinstance(data, dict) else None
        except Exception:
            return None

    def commit_round(rev: str) -> int:
        """Round id of a commit = highest N among the CORRECTNESS_r{N}
        markers in its tree (ADVICE r10: the detail file is committed
        2-3× per round, so counting COMMITS collapses the floor lookback
        to ~1 round; rounds are the unit the floor hardening promised)."""
        try:
            out = subprocess.run(
                ["git", "-C", root, "ls-tree", "--name-only", rev],
                capture_output=True, text=True, timeout=30,
            ).stdout
        except Exception:
            return 0
        ns = [int(m.group(1))
              for m in re.finditer(r"CORRECTNESS_r(\d+)\.json", out)]
        return max(ns, default=0)

    head = show("HEAD") or {}
    head["_floor_round"] = commit_round("HEAD")
    # commits that touched the detail file, newest first — fetch well
    # beyond the per-round commit cadence, then dedupe to one (the
    # newest = that round's accepted final state) per round id
    try:
        revs = subprocess.run(
            ["git", "-C", root, "log", "-40",
             "--format=%H", "--", "BENCH_DETAIL.json"],
            capture_output=True, text=True, timeout=30,
        ).stdout.split()
    except Exception:
        revs = []
    steadies: list[float] = []
    seen_rounds: set[int] = set()
    for rev in revs:
        rnd = commit_round(rev)
        if rnd in seen_rounds:
            continue
        seen_rounds.add(rnd)
        d = show(rev)
        if d and isinstance(d.get("taxi_replay_steady_rows_per_sec"), (int, float)):
            steadies.append(d["taxi_replay_steady_rows_per_sec"])
        if len(steadies) >= REPLAY_FLOOR_ROUNDS:
            break
    if steadies:
        head["taxi_replay_steady_rows_per_sec"] = max(steadies)
    return head


#: replay floor = max steady over this many committed detail files
REPLAY_FLOOR_ROUNDS = 3


#: cross-round guard: re-measure queries whose min is this factor over the
#: prior round's committed min (and replay runs this factor under its floor)
CROSS_ROUND_FACTOR = 1.5
REPLAY_FLOOR_SLACK = 1.15

#: DECLARED, documented cost shifts (see COVERAGE.md round receipts): the
#: cross-round guard reports these under `expected_shifts` WITH the
#: reason instead of as regressions — the r9 er_entity_clusters pattern
#: (union candidate source, ~10× candidate graph) made mechanical.
#: ROUND-SCOPED (ADVICE r10: an unconditional name match would mask any
#: FUTURE slowdown of the same query behind a stale reason forever):
#: each entry is (declared_round, reason) and applies only while the
#: committed floor predates the declared round — once that round's
#: BENCH_DETAIL lands, the shifted time IS the floor and the entry goes
#: inert mechanically.
EXPECTED_SHIFTS: dict[str, tuple[int, str]] = {
    "knn_graph_triangles": (
        10,
        "r10: edge build repointed at the IVF-routed ANN route — the"
        " quantizer lifecycle (offline-trained at 100 TB) dominates at"
        " sf0.1's 2k vectors; growth, not toy-scale time, is the win",
    ),
    "label_propagation_knn": (
        10,
        "r10: same ANN edge repoint (edge list built once,"
        " localCheckpoint shared by both directions)",
    ),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # UI enabled for THIS process only (session.py default stays off):
    # the status REST API is the source of per-query executor task-time
    # below — the AppStatusListener that feeds it runs regardless of this
    # flag, the flag only starts the jetty server, so the timed queries
    # are unaffected.
    spark = get_spark(
        app_name="bench", extra_conf={"spark.ui.enabled": "true"}
    )
    queries = build_queries()

    # warm the JVM/codegen once so per-query numbers measure the queries
    load_table(spark, sf_dir, "events").count()

    # Replay FIRST, while the JVM is fresh: measured r5, running it after
    # the 78-query suite costs ~30% steady-state throughput (heap/GC
    # pressure left by the suite), while standalone runs reach 22k+
    # rows/s. Best-of-N (throughput → max) for the shared-host reason
    # the suite uses min.
    prior = prior_round_floors()
    prior_min = prior.get("queries_min", {}) if isinstance(prior, dict) else {}

    taxi_rows = taxi_rps = taxi_steady_rps = 0
    for i in range(N_ITERS):
        rows, rps, steady = taxi_replay_rows_per_sec()
        if i == 0 or steady > taxi_steady_rps:
            taxi_rows, taxi_rps, taxi_steady_rps = rows, rps, steady
    # Cross-round floor for the replay (VERDICT r7 §7): r7 committed a
    # contention-depressed 17.8k while three clean runs sat at 20.8-25.3k.
    # The check runs HERE, while the JVM is still fresh (post-suite replay
    # loses ~30% to heap/GC pressure, so a late re-measure can't recover).
    replay_floor = (
        prior.get("taxi_replay_steady_rows_per_sec")
        if isinstance(prior, dict)
        else None
    )
    extra_replays = 0
    while (
        replay_floor
        and taxi_steady_rps * REPLAY_FLOOR_SLACK < replay_floor
        and extra_replays < 2
    ):
        rows, rps, steady = taxi_replay_rows_per_sec()
        if steady > taxi_steady_rps:
            taxi_rows, taxi_rps, taxi_steady_rps = rows, rps, steady
        extra_replays += 1
    replay_below_floor = bool(
        replay_floor and taxi_steady_rps * REPLAY_FLOOR_SLACK < replay_floor
    )
    spark.catalog.clearCache()
    gc.collect()

    # Per-query time = min of N_ITERS materializations: the host is shared,
    # so a single run can absorb an external CPU burst; the minimum is the
    # machine-limited figure. The MEDIAN is carried alongside so
    # round-over-round comparisons can distinguish real code wins from
    # one-lucky-run measurement noise. Iteration count is recorded in the
    # output JSON.
    #
    # Noise control (VERDICT r6: five false 1.3-1.6x "regressions" whose
    # source never changed): a query whose relative spread
    # (max-min)/min across its iterations exceeds NOISE_SPREAD gets up to
    # MAX_EXTRA_ITERS re-measurements — under suite-pressure/GC noise the
    # extra runs tighten min and median toward the machine-limited figure.
    # Queries still above the budget after re-measure are declared in the
    # final line's `noisy` list, so a round-over-round delta on one of
    # them is read as measurement noise, not a plan regression.
    import statistics

    NOISE_SPREAD = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_SPREAD", "0.2"))
    # Noise criterion: MEDIAN drift over min, with an absolute floor.
    # max-min flags any single GC/compile spike (measured: 62-76/124
    # queries trip a max-based 20% budget on an IDLE host, medians rock-
    # steady), but the carried figures are min and median — both robust
    # to one spike at iters>=3. What actually corrupted r6's readings was
    # the MEDIAN shifting under sustained contention; so noisy :=
    # (median-min)/min > 20% AND median-min > 250 ms (sub-second queries
    # jitter by tens of ms from task scheduling alone — irrelevant).
    NOISE_ABS_FLOOR = float(
        os.environ.get("SPARK_GRAFT_BENCH_NOISE_FLOOR", "0.25")
    )
    MAX_EXTRA_ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_ITERS", "3"))
    import statistics as _stats

    def is_noisy(runs: list[float]) -> bool:
        drift = _stats.median(runs) - min(runs)
        return drift / min(runs) > NOISE_SPREAD and drift > NOISE_ABS_FLOOR

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        elapsed = time.perf_counter() - t0
        # benchmark hygiene: release every shared intermediate so later
        # queries aren't measured under another query's storage/GC
        # pressure and iterations 2..N measure the work, not a slot
        # lookup.
        clear_all(spark)
        return elapsed

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    iters_used: dict[str, int] = {}
    noisy: list[str] = []
    all_runs: dict[str, list[float]] = {}

    # Per-query executor TASK time (VERDICT r11 §2: the 8-vs-32-core wall
    # ratios at sf0.1 are ≈1 because every query is fixed-overhead-bound,
    # so the scaling probe carried no signal). Summing executorRunTime
    # over each query's completed stages gives the compute actually done:
    # task_sec/wall_sec ≈ effective parallelism, which separates
    # compute-bound queries (ratio » 1, should scale with cores) from
    # overhead-bound ones (ratio ≈ 1, won't) — readable from ONE run.
    # task_sec is NOT core-count-invariant: AQE coalesces to a different
    # partition count and per-task overhead scales with the task count,
    # so compare it across the 32- and 8-core runs only as a rough
    # indication of where compute went. Each fetch first drains the
    # listener bus, so the status store holds every stage of the query
    # that just finished, and the new stages since the previous fetch are
    # exactly that query's. Fetch failures degrade to empty maps, never
    # fail bench.
    import urllib.request

    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    counted_stages: set[int] = set()

    def _new_task_ms() -> int:
        if not ui_url:
            return 0
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            with urllib.request.urlopen(
                f"{ui_url}/api/v1/applications/{app_id}/stages?status=COMPLETE",
                timeout=10,
            ) as r:
                stages = json.load(r)
        except Exception:
            return 0
        ms = 0
        for s in stages:
            sid = s.get("stageId")
            if sid in counted_stages:
                continue
            counted_stages.add(sid)
            ms += s.get("executorRunTime", 0)
        return ms

    task_ms_total: dict[str, int] = {}

    def note_task_time(name: str) -> None:
        # accumulates across re-measure passes for the same query
        task_ms_total[name] = task_ms_total.get(name, 0) + _new_task_ms()

    def record(name: str) -> None:
        runs = all_runs[name]
        timings[name] = round(min(runs), 3)
        medians[name] = round(statistics.median(runs), 3)
        spreads[name] = round((max(runs) - min(runs)) / min(runs), 3)
        iters_used[name] = len(runs)

    _new_task_ms()  # set the stage watermark past warm-up/replay stages
    for name in HEADLINE:
        runs = [run_once(name) for _ in range(N_ITERS)]
        while is_noisy(runs) and len(runs) < N_ITERS + MAX_EXTRA_ITERS:
            runs.append(run_once(name))
        all_runs[name] = runs
        record(name)
        note_task_time(name)
        if is_noisy(runs):
            noisy.append(name)

    # Cross-round contention guard (VERDICT r7 §1): the within-query noise
    # detector above only sees median-vs-min drift, so an external CPU
    # burst that slows ALL of a query's iterations uniformly is recorded
    # as truth (r7: three consecutive queries at 2-4× their idle-host
    # time). Any query whose best-of-N exceeds the PRIOR ROUND's committed
    # min by >CROSS_ROUND_FACTOR gets one end-of-suite re-measure pass —
    # by then a transient burst has usually passed; a REAL regression
    # stays slow and is reported under `regression_suspects` so the
    # round-over-round reader knows re-measurement already happened.
    contention_suspects: list[str] = []
    regression_suspects: list[str] = []
    # evidence trail (VERDICT r8 §8): record the pre/post re-measure min
    # for every suspect so the guard's decisions are auditable from the
    # committed BENCH_DETAIL without rerunning the suite
    contention_remeasures: dict[str, list[float]] = {}
    expected_shifts: dict[str, str] = {}
    suspects = [
        n
        for n in HEADLINE
        if prior_min.get(n) and timings[n] > CROSS_ROUND_FACTOR * prior_min[n]
    ]
    for name in suspects:
        before = timings[name]
        all_runs[name].extend(run_once(name) for _ in range(2))
        record(name)
        note_task_time(name)
        contention_remeasures[name] = [before, timings[name]]
        if timings[name] > CROSS_ROUND_FACTOR * prior_min[name]:
            declared = EXPECTED_SHIFTS.get(name)
            floor_round = prior.get("_floor_round", 0)
            if declared and declared[0] > floor_round:
                expected_shifts[name] = declared[1]
            else:
                regression_suspects.append(name)
        else:
            contention_suspects.append(name)

    total = round(sum(timings.values()), 3)
    total_median = round(sum(medians.values()), 3)
    events_rows = load_table(spark, sf_dir, "events").count()
    pipeline_sec = timings["geofence_hourly_counts"]

    # scaling evidence (VERDICT r11 §2): avg executor task-seconds per run
    # and parallel efficiency = task_sec / wall_sec (≈ effective cores
    # actually used; ≈1 means overhead-bound, cores can't help)
    queries_task_sec = {
        n: round(task_ms_total[n] / 1000.0 / len(all_runs[n]), 3)
        for n in HEADLINE
        if n in task_ms_total
    }
    queries_par_eff = {
        n: round(task_ms_total[n] / 1000.0 / sum(all_runs[n]), 2)
        for n in HEADLINE
        if n in task_ms_total and sum(all_runs[n]) > 0
    }

    # Output contract (r4 regression fix — BENCH_r04.json "parsed": null):
    # the driver tail-captures stdout and parses the LAST line, so the
    # final line must stay compact. Per-query MEDIAN detail goes on its
    # own earlier line and into BENCH_DETAIL.json; the final line carries
    # only the required headline fields (min-of-N per query).
    detail = {
        "metric": "headline_suite_detail",
        "value_median": total_median,
        "queries_median": medians,
        "queries_min": dict(timings),
        "queries_spread": spreads,
        "queries_iters": iters_used,
        "noise_spread_budget": NOISE_SPREAD,
        "noise_abs_floor_sec": NOISE_ABS_FLOOR,
        "noisy": noisy,
        "iters_per_query": N_ITERS,
        "cross_round_factor": CROSS_ROUND_FACTOR,
        "contention_suspects": contention_suspects,
        "regression_suspects": regression_suspects,
        "expected_shifts": expected_shifts,
        "contention_remeasures": contention_remeasures,
        # scaling evidence (VERDICT r11 §2): per-query executor task time
        # and task/wall parallel efficiency, plus the effective master, so
        # the 8-core probe can be read as compute (task_sec constant,
        # wall shrinks) vs overhead (par_eff ≈ 1 — cores irrelevant)
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "queries_task_sec": queries_task_sec,
        "queries_par_eff": queries_par_eff,
        # replay figures carried in the detail file so the NEXT round's
        # cross-round guard has its floor (read via git show HEAD:)
        "taxi_replay_rows_per_sec": taxi_rps,
        "taxi_replay_steady_rows_per_sec": taxi_steady_rps,
        "replay_floor_prior": replay_floor,
        "replay_below_floor": replay_below_floor,
        "sf": sf,
    }
    print(json.dumps(detail), flush=True)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError:
        pass
    # The driver tail-captures only the last ~2000 chars of stdout and
    # parses the LAST line; 100+ per-query entries push the line past the
    # window and its head gets truncated (BENCH_r04/r05 "parsed": null).
    # Round-12 fix (VERDICT r11 §1): the final line's "queries" map is the
    # FIXED FINAL_LINE_COUNT-query prefix of HEADLINE (the exact set r10
    # showed), at 2-decimal precision, with the noisy/suspect NAME lists
    # replaced by counts — a stable, declared round-over-round comparison
    # set instead of a truncation-dependent prefix. Full-precision timings
    # for all queries are on the detail line / BENCH_DETAIL.json above.
    final_set = [n for n in HEADLINE[:FINAL_LINE_COUNT] if n in timings]
    final = {
        "metric": "headline_suite",
        "value": total,
        "unit": "sec",
        "queries": {n: round(timings[n], 2) for n in final_set},
        "queries_shown": len(final_set),
        "queries_total": len(timings),
        # counts only (names: detail line): noisy = spread stayed over the
        # noise budget after re-measure (round-over-round deltas on those
        # are measurement noise); contention = end-of-suite re-measure
        # recovered the prior-round floor (burst, not code); regression =
        # still >1.5x prior min after re-measure (real until disproven)
        "noisy_count": len(noisy),
        "contention_count": len(contention_suspects),
        "regression_count": len(regression_suspects),
        "expected_shift_count": len(expected_shifts),
        "replay_below_floor": replay_below_floor,
        "iters_per_query": N_ITERS,
        "sf": sf,
        # effective core count + master (VERDICT r11 §2: settles
        # suspect_cpus_ignored from evidence)
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "events_rows_per_sec": round(events_rows / pipeline_sec)
        if pipeline_sec
        else None,
        # reference-workload replay (BASELINE.md: ≈3,400 rows/s
        # steady-state; taxi_replay_steady_rows_per_sec is the
        # apples-to-apples figure, total includes the cold batch)
        "taxi_replay_rows": taxi_rows,
        "taxi_replay_rows_per_sec": taxi_rps,
        "taxi_replay_steady_rows_per_sec": taxi_steady_rps,
    }
    # safety net only — with 48 queries at 2 decimals the line measures
    # ~1750 chars; popping (from the END, so the comparison prefix
    # survives) should never actually trigger
    while len(json.dumps(final)) > 1800 and final["queries"]:
        final["queries"].popitem()
        final["queries_shown"] = len(final["queries"])
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
