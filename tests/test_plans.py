"""Plan-quality gates: the 100 TB posture, asserted on the physical plan.

Each test pins a property that matters at 1000-executor scale: filters
reach the parquet scan, scans prune columns, dimension joins broadcast,
relational pipelines stay JVM-side, aggregations combine map-side, global
top-k avoids a full sort.
"""

from __future__ import annotations

import re

import pytest

from streamming_processing_pyspark_spark.operators import pipeline, relational, windowed
from streamming_processing_pyspark_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_python_eval,
    assert_partial_aggregation,
    assert_pushed_filter,
    assert_read_schema_only,
    assert_top_k_plan,
    assert_whole_stage_codegen,
    plan_string,
)
from streamming_processing_pyspark_spark.tables import load_table, load_tables

from .conftest import SF_DIR


def test_q1_filter_pushdown_and_pruning(spark):
    t = load_tables(spark, SF_DIR)
    df = relational.q1_pricing_summary(t)
    assert_pushed_filter(df, "l_shipdate")
    assert_read_schema_only(
        df,
        "lineitem",
        {
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        },
    )
    assert_partial_aggregation(df)
    assert_whole_stage_codegen(df)


def test_q5_broadcasts_dimensions(spark):
    t = load_tables(spark, SF_DIR)
    df = relational.q5_nation_revenue(t)
    # customer, supplier, nation, region all broadcast
    assert_broadcast_join(df, min_count=4)


def test_geofence_stays_jvm_side(spark):
    ev = load_table(spark, SF_DIR, "events")
    df = windowed.geofence_hourly_counts(ev)
    assert_no_python_eval(df)
    assert_whole_stage_codegen(df)


def test_hourly_counts_partial_agg_and_pruning(spark):
    ev = load_table(spark, SF_DIR, "events")
    df = windowed.hourly_counts(ev)
    assert_partial_aggregation(df)
    assert_read_schema_only(df, "events", {"ts"})


def test_orders_topk_avoids_full_sort(spark):
    t = load_tables(spark, SF_DIR)
    assert_top_k_plan(relational.orders_topk(t))


def test_q3_broadcasts_customer(spark):
    t = load_tables(spark, SF_DIR)
    assert_broadcast_join(relational.q3_top_orders(t), min_count=1)
    assert_pushed_filter(relational.q3_top_orders(t), "l_shipdate")


def test_heavy_hitter_bigrams_topk_plan(spark):
    t = load_tables(spark, SF_DIR)
    df = pipeline.heavy_hitter_bigrams(t)
    assert_top_k_plan(df)
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_stratified_sample_map_only(spark):
    t = load_tables(spark, SF_DIR)
    df = pipeline.stratified_sample(t)
    assert_no_python_eval(df)
    assert_read_schema_only(df, "documents", {"doc_id", "lang"})
    assert "Exchange" not in plan_string(df)


def test_q4_semi_join_shape(spark):
    t = load_tables(spark, SF_DIR)
    df = relational.q4_priority_late_ship(t)
    p = plan_string(df)
    assert "LeftSemi" in p
    assert_pushed_filter(df, "o_orderdate")
    assert_no_python_eval(df)


def test_q22_anti_join_broadcast(spark):
    t = load_tables(spark, SF_DIR)
    df = relational.q22_idle_wealthy_customers(t)
    p = plan_string(df)
    assert "LeftAnti" in p
    assert_broadcast_join(df, min_count=1)


def test_q7_broadcasts_all_dims(spark):
    from streamming_processing_pyspark_spark.operators import relational3

    t = load_tables(spark, SF_DIR)
    df = relational3.q7_volume_shipping(t)
    # supplier, customer, nation×2 all broadcast
    assert_broadcast_join(df, min_count=4)
    assert_pushed_filter(df, "l_shipdate")
    assert_no_python_eval(df)


def test_q19_disjunction_stays_hash_join(spark):
    from streamming_processing_pyspark_spark.operators import relational3

    t = load_tables(spark, SF_DIR)
    df = relational3.q19_discounted_revenue(t)
    # the OR-of-ANDs must not force a nested-loop join: the common
    # l_partkey = p_partkey equi-key keeps it a broadcast hash join
    assert_broadcast_join(df, min_count=1)
    s = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "CartesianProduct" not in s, s


def test_q15_single_lineitem_scan(spark):
    from streamming_processing_pyspark_spark.operators import relational3

    t = load_tables(spark, SF_DIR)
    df = relational3.q15_top_supplier(t)
    s = plan_string(df)
    # scalar-max via broadcast of the reused aggregate: lineitem is scanned
    # per branch of the self-join of `rev`, never more (2 scans max — AQE
    # may dedupe via exchange reuse at runtime)
    assert s.count("lineitem.parquet") <= 2, s
    assert_pushed_filter(df, "l_shipdate")


def test_doc_chunks_map_only(spark):
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    df = pipeline2.doc_chunks(t)
    s = plan_string(df)
    assert "Exchange" not in s, s  # chunk expansion must not shuffle
    assert_no_python_eval(df)
    assert_read_schema_only(df, "documents", {"doc_id", "text"})


def test_embedding_quantize_map_only(spark):
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    df = pipeline2.embedding_quantize(t)
    s = plan_string(df)
    assert "Exchange" not in s, s
    assert_no_python_eval(df)


def test_benchmark_contamination_broadcasts_bench(spark):
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    df = pipeline2.benchmark_contamination(t)
    assert_broadcast_join(df, min_count=1)
    s = plan_string(df)
    assert "SortMergeJoin" not in s, s  # probe side must stay map-side


def test_event_trigrams_single_window_sort(spark):
    """Both lag() calls share one window spec — the plan must contain
    exactly ONE Window node (one user_id sort-shuffle), and stay JVM-side."""
    import re

    from streamming_processing_pyspark_spark.operators import events_analytics

    t = load_tables(spark, SF_DIR)
    df = events_analytics.event_path_trigrams(t)
    plan = plan_string(df)
    windows = re.findall(r"\(\d+\) Window\b", plan)
    assert len(windows) == 1, plan
    assert_no_python_eval(df)
    assert_read_schema_only(
        df, "events", {"user_id", "ts", "event_id", "event_type"}
    )


def test_hourly_anomalies_aggregate_before_stats(spark):
    """Global stats must run over the aggregated hourly frame — the plan
    keeps partial aggregation on the input, broadcasts the 1-row stats
    (no single-partition global window), and has no Python eval."""
    from streamming_processing_pyspark_spark.operators import events_analytics

    t = load_tables(spark, SF_DIR)
    df = events_analytics.hourly_count_anomalies(t)
    assert_partial_aggregation(df)
    assert_no_python_eval(df)
    s = plan_string(df)
    assert "windowspecdefinition()" not in s, s
    assert_broadcast_join(df, min_count=1)


def test_span_dedup_broadcasts_hot_set(spark):
    """The hot-span removal join must broadcast (the boilerplate set is
    tiny by construction); the span expansion itself must not shuffle."""
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    df = pipeline2.span_dedup(t)
    assert_broadcast_join(df, min_count=1)
    s = plan_string(df)
    assert "SortMergeJoin" not in s, s
    assert_read_schema_only(df, "documents", {"doc_id", "text"})


def test_shard_shuffle_single_exchange(spark):
    """The training shuffle must be ONE hash exchange + per-shard local
    sorts — never a global (single-partition) total sort."""
    t = load_tables(spark, SF_DIR)
    df = pipeline.shard_shuffle_assign(t)
    s = plan_string(df, "simple")  # formatted mode repeats nodes in details
    assert s.count("Exchange") == 1, s
    assert "SinglePartition" not in s, s
    assert_no_python_eval(df)


def test_incremental_dedup_anti_join_on_hash(spark):
    """Incremental ingest dedup: LeftAnti join on fixed-width md5 keys,
    with the batch-side filter pushed to the scan."""
    t = load_tables(spark, SF_DIR)
    df = pipeline.incremental_exact_dedup(t)
    s = plan_string(df)
    assert "LeftAnti" in s, s
    assert_no_python_eval(df)


def test_knn_join_partial_topk(spark):
    """Global per-vector top-K must push a partial WindowGroupLimit below
    the shuffle — candidates are pruned map-side, not sorted globally."""
    from streamming_processing_pyspark_spark.operators import similarity

    t = load_tables(spark, SF_DIR)
    df = similarity.knn_join_topk(t)
    s = plan_string(df)
    assert "WindowGroupLimit" in s, s
    assert "Partial" in s, s


@pytest.mark.parametrize(
    "op", ["hard_negative_mining", "ann_knn_topk", "hard_negative_mining_ann"]
)
def test_knn_rank_window_prunes_below_shuffle(spark, op):
    """The shared per-anchor rank window (``similarity._ranked``) of the
    exact and ANN kNN ops: the final WindowGroupLimit sits over the
    ``vec_id`` shuffle and a partial one under it, so candidates are cut
    to k per anchor map-side before they are shuffled."""
    from streamming_processing_pyspark_spark.operators import similarity

    t = load_tables(spark, SF_DIR)
    plan = plan_string(getattr(similarity, op)(t))
    nodes = re.findall(r"(\w+) +\((\d+)\)\n", plan.split("\n\n")[0])
    names = [name for name, _ in nodes]
    top = names.index("WindowGroupLimit")
    assert names[top : top + 5] == [
        "WindowGroupLimit", "Sort", "Exchange", "WindowGroupLimit", "Sort"
    ], plan
    final, exchange, partial = (nodes[top + i][1] for i in (0, 2, 3))
    assert re.search(rf"\({final}\) WindowGroupLimit\n.*\n.*, Final\n", plan), plan
    assert re.search(
        rf"\({exchange}\) Exchange\n.*\nArguments: hashpartitioning\(vec_id#\d+L, ", plan
    ), plan
    assert re.search(rf"\({partial}\) WindowGroupLimit\n.*\n.*, Partial\n", plan), plan


def test_leakage_safe_split_map_only(spark):
    t = load_tables(spark, SF_DIR)
    df = pipeline.leakage_safe_split(t)
    assert_no_python_eval(df)
    assert_read_schema_only(df, "documents", {"doc_id", "source"})
    assert "Exchange" not in plan_string(df)  # pure function of the group key


def test_incremental_minhash_probe_shape(spark):
    from streamming_processing_pyspark_spark.operators import dedup

    t = load_tables(spark, SF_DIR)
    df = dedup.incremental_minhash_pairs(t)
    s = plan_string(df)
    # candidate probe must be an equi-join on the band key, never a
    # nested-loop product of batch × corpus
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "CartesianProduct" not in s, s


def test_similar_activity_users_topk_plan(spark):
    from streamming_processing_pyspark_spark.operators import timeseries

    t = load_tables(spark, SF_DIR)
    df = timeseries.similar_activity_users(t)
    s = plan_string(df)
    assert "TakeOrderedAndProject" in s, s  # top-k, not a global sort
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
    assert_no_python_eval(df)


def test_quality_classifier_map_only(spark):
    """The hashed-feature classifier is a scan-speed filter: zero
    shuffles, zero Python eval."""
    from streamming_processing_pyspark_spark.operators import curation

    df = curation.quality_classifier_scores(load_tables(spark, SF_DIR))
    s = plan_string(df)
    assert "Exchange" not in s, s
    assert_no_python_eval(df)


def test_source_cap_partial_group_limit(spark):
    """The per-source cap must pre-prune to K rows per group in each input
    partition (WindowGroupLimit) so the shuffle moves O(K x sources)."""
    from streamming_processing_pyspark_spark.operators import curation

    df = curation.source_cap_sample(load_tables(spark, SF_DIR))
    s = plan_string(df)
    assert "WindowGroupLimit" in s, s


def test_perplexity_buckets_broadcast_thresholds(spark):
    """Threshold table (2 values per lang) broadcasts back; the histogram
    aggregation combines map-side."""
    from streamming_processing_pyspark_spark.operators import curation

    df = curation.perplexity_buckets(load_tables(spark, SF_DIR))
    assert_broadcast_join(df, min_count=1)
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_ewma_partial_agg_no_python(spark):
    from streamming_processing_pyspark_spark.operators import timeseries

    df = timeseries.ewma_hourly_value(load_tables(spark, SF_DIR))
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: a hot join key whose partition dwarfs the
    median must be split by AQE (SortMergeJoin(skew=true) + skewed
    AQEShuffleRead) instead of serializing one straggler task — the
    runtime complement to the deterministic salting in
    analytics2.salted_customer_join."""
    from pyspark.sql import functions as F

    from streamming_processing_pyspark_spark.plans.explain import (
        executed_plan_string,
    )

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
        # half the fact rows share one key; incompressible pad so the
        # shuffled bytes (post-compression) actually show the skew
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.pmod("id", F.lit(5000)))
            .alias("k"),
            F.repeat(F.md5(F.col("id").cast("string")), 8).alias("pad"),
        )
        dim = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        s = executed_plan_string(fact.join(dim, "k"))
        assert "skew=true" in s, s[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bm25_single_scan_topk(spark):
    """BM25 retrieval: corpus stats reduce to one broadcast row, scoring is
    map-side, top-k is a TakeOrderedAndProject, nothing Python."""
    from streamming_processing_pyspark_spark.operators import text

    df = text.bm25_search(load_tables(spark, SF_DIR))
    s = plan_string(df)
    assert "TakeOrderedAndProject" in s, s
    assert_no_python_eval(df)
    assert_broadcast_join(df, min_count=1)


def test_weighted_sample_partial_group_limit(spark):
    """A-ES weighted sampling: the per-lang top-N must pre-prune each
    input partition to N rows (WindowGroupLimit) before the one shuffle,
    and hash/key arithmetic stays JVM-side."""
    from streamming_processing_pyspark_spark.operators import sampling

    df = sampling.weighted_sample_per_lang(load_tables(spark, SF_DIR))
    s = plan_string(df)
    assert "WindowGroupLimit" in s, s
    assert_no_python_eval(df)


def test_gopher_flags_map_only(spark):
    """Gopher rule flags evaluate inside the scan projection: zero
    shuffles, zero Python eval."""
    from streamming_processing_pyspark_spark.operators import sampling

    df = sampling.gopher_quality_flags(load_tables(spark, SF_DIR))
    s = plan_string(df)
    assert "Exchange" not in s, s
    assert_no_python_eval(df)


def test_scd2_single_sort_shuffle(spark):
    """SCD2 gaps-and-islands: both window functions share ONE
    (user_id, ts, event_id) sort — exactly one Exchange in the plan."""
    from streamming_processing_pyspark_spark.operators import analytics2

    df = analytics2.user_scd2_intervals(load_tables(spark, SF_DIR))
    s = plan_string(df, "simple")
    assert s.count("Exchange") == 1, s
    assert s.count("Sort") == 1, s
    assert_no_python_eval(df)


def test_value_drift_ks_histogram_shaped(spark):
    """KS drift: the only input-sized stage is the map-combinable
    histogram aggregation; bounds broadcast; no Python."""
    from streamming_processing_pyspark_spark.operators import profiling

    df = profiling.value_drift_ks(load_tables(spark, SF_DIR))
    assert_partial_aggregation(df)
    assert_broadcast_join(df, min_count=1)
    assert_no_python_eval(df)


def test_ohlc_single_sort(spark):
    """OHLC resample: one shuffle and ONE sort serve both row markers
    (the close marker uses an unordered count window on the same
    partitioning, not an opposite-order second sort)."""
    from streamming_processing_pyspark_spark.operators import timeseries

    df = timeseries.value_ohlc_5min(load_tables(spark, SF_DIR))
    s = plan_string(df, "simple")
    assert s.count("Sort") == 1, s
    assert_no_python_eval(df)


def test_asof_window_single_exchange(spark):
    """As-of join (window formulation): the whole join is ONE hash
    exchange on the key — no Python, no extra dedup shuffle (tie-break is
    folded into the window ordering), both scans column-pruned."""
    from streamming_processing_pyspark_spark.operators import asof

    df = asof.asof_latest_order(load_tables(spark, SF_DIR))
    s = plan_string(df, "simple")
    assert s.count("Exchange") == 1, s
    assert_no_python_eval(df)
    assert_read_schema_only(df, "orders", {"o_orderkey", "o_custkey", "o_orderdate"})
    assert df.take(1), "as-of join matched nothing at sf"


def test_campaign_gate_is_mapside(spark):
    """Campaign composition: the Gopher gate must be a filter ON the
    documents scan (no flags-frame join), and the only Python stage is
    the Arrow shingler inherited from the pair source."""
    from streamming_processing_pyspark_spark.operators import campaign

    df = campaign.dedup_campaign_summary(load_tables(spark, SF_DIR))
    s = plan_string(df, "simple")
    # no row-at-a-time Python; mapInPandas (ArrowEvalPython-free) only
    assert "BatchEvalPython" not in s, s


def test_observe_single_scan(spark):
    """Observability rides the gate pass: CollectMetrics sits on the ONE
    documents scan (no second scan to compute ingest metrics) and the
    whole pass is JVM-side."""
    from pyspark.sql import Observation

    from streamming_processing_pyspark_spark.operators import observability

    docs = load_table(spark, SF_DIR, "documents")
    df = observability.gated_pass(docs, Observation("probe"))
    s = plan_string(df, "simple")
    assert "CollectMetrics" in s, s
    import re

    assert len(re.findall(r"(?:File)?Scan parquet", s)) == 1, s
    assert_no_python_eval(df)


def test_cdc_chunks_vocab_broadcast_no_python(spark):
    """The CDC cut rule is evaluated per DISTINCT word and broadcast back
    onto the exploded corpus (a shuffle join here would move |occurrences|
    rows twice), and the whole operator stays JVM-side."""
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    df = pipeline2.cdc_chunks(t)
    assert_broadcast_join(df)
    assert_no_python_eval(df)


def test_kl_source_divergence_one_heavy_scan(spark):
    """KL's second documents scan must read ONLY the source column (the
    dense-grid source list) — deriving it from the token-count subtree
    would tokenize the corpus twice."""
    import re

    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    df = mixing.kl_source_divergence(t)
    s = plan_string(df, "formatted")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    doc_scans = [c for c in scans if "text" in c or "source" in c]
    assert len(doc_scans) == 2, s
    assert any(c == "source:string" for c in doc_scans), doc_scans
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_kmv_overlap_sketch_joins_broadcast(spark):
    """All KMV pair math happens on sketch-sized frames: every join in
    the plan is a broadcast (pair grid, sketch arrays, exact counts) —
    the only corpus-sized work is the distinct aggregation."""
    from streamming_processing_pyspark_spark.operators import sketches

    t = load_tables(spark, SF_DIR)
    df = sketches.kmv_type_overlap(t)
    s = plan_string(df, "simple")
    assert "SortMergeJoin" not in s, s
    assert_no_python_eval(df)


def test_cms_join_size_sketch_sized_inner_product(spark):
    """The join-size estimate never materializes the join: the plan's
    only parquet scans are the two per-key count aggregations (plus the
    claim's exact-join branch), and the inner product runs on hash
    aggregates with map-side combine."""
    from streamming_processing_pyspark_spark.operators import sketches

    t = load_tables(spark, SF_DIR)
    df = sketches.cms_join_size_check(t)
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_classifier_vs_gate_single_scan(spark):
    """The classifier-vs-gate rollout family must evaluate BOTH filters
    (learned score + Gopher gate) inside ONE documents scan projection —
    no doc-keyed join of two scans (at 100 TB the second corpus scan is
    the query's single biggest avoidable cost). Calibration and kappa
    read parquet exactly once with zero joins on corpus-sized data; the
    decile lift's only documents access is its one persisted projection
    (every 'Scan parquet' occurrence in the executed string is the
    cached plan reprinted under an InMemoryTableScan)."""
    from streamming_processing_pyspark_spark.operators import sampling
    from streamming_processing_pyspark_spark.plans.explain import (
        executed_plan_string,
    )

    t = load_tables(spark, SF_DIR)

    def final_plan(df):
        # AdaptiveSparkPlan prints Final + Initial sections; evidence is
        # the final (runtime) plan only
        return executed_plan_string(df).split("== Initial Plan ==")[0]

    for fn in (
        sampling.classifier_calibration_bins,
        sampling.filter_agreement_kappa,
    ):
        s = final_plan(fn(t))
        assert s.count("Scan parquet") == 1, s[:2000]
        assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s, s[:2000]

    s = final_plan(sampling.classifier_decile_lift(t))
    n_mem = s.count("InMemoryTableScan")
    assert n_mem >= 1
    assert s.count("Scan parquet") == n_mem, s[:2000]


def test_psi_value_drift_one_corpus_shuffle(spark):
    """PSI runs on the conditional-sum histogram: the EXECUTED plan (the
    persisted histogram dedups its two consumer branches at runtime)
    hash-partitions corpus-sized data exactly once (the v_c histogram
    build); every other exchange moves the bounded histogram/grid. All
    decile/bucket math is JVM-side."""
    import re

    from streamming_processing_pyspark_spark.operators import profiling
    from streamming_processing_pyspark_spark.plans.explain import (
        executed_plan_string,
    )

    t = load_tables(spark, SF_DIR)
    df = profiling.psi_value_drift(t)
    s = executed_plan_string(df)
    corpus_shuffles = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", s)
    }
    assert corpus_shuffles <= {"v_c", "bucket"}, s
    assert_no_python_eval(df)


def test_epoch_upsample_one_corpus_aggregate(spark):
    """The epoch manifest's only corpus-sized shuffle is the per-source
    count aggregate (map-side combined); the rate table comes back as a
    broadcast, the epoch computation is map-only, and both documents
    scans are column-pruned to (doc_id, source) / (source)."""
    import re

    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    df = mixing.epoch_upsample_manifest(t)
    s = plan_string(df, "formatted")
    assert "SortMergeJoin" not in s, s
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert all("text" not in c for c in scans), scans
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_interpolated_gapfill_grid_windows(spark):
    """Linear gap fill does its input-sized work in ONE map-side
    combinable (hour, type) aggregation; the window passes run on the
    hours-by-types grid, partitioned by event_type (no unpartitioned
    window over corpus-sized data), and no scan reads props/user_id."""
    import re

    from streamming_processing_pyspark_spark.operators import timeseries

    t = load_tables(spark, SF_DIR)
    df = timeseries.hourly_value_interpolated(t)
    s = plan_string(df, "formatted")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert all("props" not in c and "user_id" not in c for c in scans), scans
    assert "windowspecdefinition(event_type" in s, s
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_value_band_pairs_hash_join_not_bnlj(spark):
    """The ε-band self-join must compile to an equi-join (hash exchange
    on (user_id, bucket)) — never BroadcastNestedLoopJoin / cartesian —
    and the scans must prune to the three used columns."""
    import re

    from streamming_processing_pyspark_spark.operators import analytics2

    t = load_tables(spark, SF_DIR)
    df = analytics2.value_band_pairs(t)
    s = plan_string(df, "formatted")
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "CartesianProduct" not in s, s
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert all("props" not in c and "ts" not in c for c in scans), scans
    assert_no_python_eval(df)


def test_cusum_one_corpus_aggregate(spark):
    """CUSUM's only input-sized stage is the (hour, type) count
    aggregate (map-side combined); the two window passes are partitioned
    by event_type on the time-bounded grid, and no scan reads value or
    props."""
    import re

    from streamming_processing_pyspark_spark.operators import timeseries

    t = load_tables(spark, SF_DIR)
    df = timeseries.cusum_changepoint_hours(t)
    s = plan_string(df, "formatted")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert all("props" not in c and "value" not in c for c in scans), scans
    assert "windowspecdefinition(event_type" in s, s
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_poisson_bootstrap_no_extra_shuffle(spark):
    """The bootstrap's replicate expansion is map-side (explode before
    the one combinable aggregation): no join anywhere in the plan, and
    partial aggregation is present so the 32x expansion combines before
    the exchange."""
    from streamming_processing_pyspark_spark.operators import sampling

    t = load_tables(spark, SF_DIR)
    df = sampling.poisson_bootstrap_ci(t)
    s = plan_string(df, "formatted")
    assert "Join" not in s, s
    assert_partial_aggregation(df)
    assert_no_python_eval(df)


def test_pareto_front_no_join(spark):
    """The skyline is pure window algebra: no join node, one sort on the
    integer cents key, scans pruned to the three output columns."""
    import re

    from streamming_processing_pyspark_spark.operators import relational2

    t = load_tables(spark, SF_DIR)
    df = relational2.pareto_front_orders(t)
    s = plan_string(df, "formatted")
    assert "Join" not in s, s
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert all("priority" not in c for c in scans), scans
    assert_no_python_eval(df)


def test_winnow_batch_extraction_is_jvm_only_and_maponly(spark):
    """Round-9 winnowing default: the BATCH fingerprint extraction is
    Catalyst end to end — no MapInPandas, no Python eval anywhere in
    the winnow_fingerprint_pairs plan (md5 + per-window argmin run as
    JVM array expressions) — and MAP-ONLY: no Window exec, so no
    (doc, pos, hash) k-gram shuffle; the only exchanges are the
    candidate-sized index/pair aggregations downstream."""
    from streamming_processing_pyspark_spark.operators import analytics5

    t = load_tables(spark, SF_DIR)
    df = analytics5.winnow_fingerprint_pairs(t)
    s = plan_string(df, "simple")
    assert "MapInPandas" not in s, s
    assert "ArrowEvalPython" not in s, s
    assert "BatchEvalPython" not in s, s
    assert "Window" not in s, s
