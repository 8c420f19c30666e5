#!/usr/bin/env python
"""Empirical scaling probe: how do the heavy operators grow with corpus size?

The plan-shape tests (tests/test_plans.py) pin the *structural* scale
properties (pushdown, broadcast, map-only, candidate-proportional joins);
this probe measures the *empirical* growth curve. The documents table is
replicated k× (doc_ids offset, a per-replica token prepended so replicas
are not trivial near-dups of each other — growth measures the algorithm,
not a constructed pathology), each headline operator runs at every k, and
the report states the time ratio against the data ratio. A
candidate-proportional operator should grow ~linearly (ratio_t ≈ k);
anything super-linear is a scale bug surfacing early.

    python tools/scale_probe.py            # k = 1,2,4  at sf0.1
    SPARK_GRAFT_PROBE_KS=1,2,4,8 python tools/scale_probe.py

Writes SCALE.md at the repo root.
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.session import get_spark
from streamming_processing_pyspark_spark.tables import (
    clear_all,
    clear_persist_slots,
    load_tables,
)
from streamming_processing_pyspark_spark.operators import (
    analytics3,
    analytics4,
    analytics5,
    campaign,
    curation,
    dedup,
    mixing,
    pipeline,
    coreset,
    lm,
    pipeline2,
    preference,
    sampling,
    similarity,
    sketches,
    text,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KS = [int(k) for k in os.environ.get("SPARK_GRAFT_PROBE_KS", "1,2,4").split(",")]

#: optional comma-separated op filter for targeted re-measures (VERDICT
#: r10 §3 protocol: single ops, fresh JVM, idle host) — empty = full matrix
ONLY_OPS = {
    s for s in os.environ.get("SPARK_GRAFT_PROBE_OPS", "").split(",") if s
}

#: pair-driven ops whose OUTPUT row count is recorded per k alongside the
#: timing (VERDICT r10 §3: without the pair-graph size next to α, a
#: superlinear cell can't be told apart from generator-inflated pair
#: volume — the k=8 dedup_clusters cliff read as a CC regression when the
#: question was really "did the pair graph grow linearly?"). The count is
#: a separate untimed run after the measured ones.
PAIR_COUNT_OPS = {
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_dup_pairs",
    "containment_pairs_banded",
    "winnow_fingerprint_pairs",
    "knn_join_topk",
    "embedding_near_dup_pairs",
    "lsh_multiprobe_pairs",
    "dedup_clusters",
    "dedup_clusters_star",
}

OPS = {
    "exact_dedup": dedup.exact_dedup,
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "simhash_fingerprints": dedup.simhash_fingerprints,
    "incremental_minhash_pairs": dedup.incremental_minhash_pairs,
    "dedup_clusters": pipeline.dedup_clusters,
    "perplexity_buckets": curation.perplexity_buckets,
    "quality_classifier_scores": curation.quality_classifier_scores,
    "weighted_sample_per_lang": sampling.weighted_sample_per_lang,
    "gopher_quality_flags": sampling.gopher_quality_flags,
    "cms_bigram_check": sketches.cms_bigram_check,
    "dedup_campaign_summary": campaign.dedup_campaign_summary,
    "dsir_resample": mixing.dsir_resample,
    "temperature_mix_sample": mixing.temperature_mix_sample,
    "kl_source_divergence": mixing.kl_source_divergence,
    "cdc_chunks": pipeline2.cdc_chunks,
    "shingle_novelty_scores": dedup.shingle_novelty_scores,
    "lm_bigram_nll": lm.lm_bigram_nll,
    "bpe_learn_merges": lm.bpe_learn_merges,
    "bpe_encode_stats": lm.bpe_encode_stats,
    "doremi_mixture_weights": mixing.doremi_mixture_weights,
    "dataset_card_rollup": curation.dataset_card_rollup,
    "bigram_pmi_topk": lm.bigram_pmi_topk,
    "dup_leakage_matrix": analytics3.dup_leakage_matrix,
    "dup_leakage_matrix_minhash": analytics3.dup_leakage_matrix_minhash,
    "text_compression_ratio": analytics3.text_compression_ratio,
    "prefix_dup_groups": analytics4.prefix_dup_groups,
    "doc_length_gini_by_source": analytics4.doc_length_gini_by_source,
    "token_len_percentiles_by_source": analytics4.token_len_percentiles_by_source,
    "dedup_survivorship_by_source": analytics4.dedup_survivorship_by_source,
    "packing_efficiency_report": analytics3.packing_efficiency_report,
    "winnow_fingerprint_pairs": analytics5.winnow_fingerprint_pairs,
    "winnow_sampler_stats": analytics5.winnow_sampler_stats,
    "distinct_ngram_diversity": analytics5.distinct_ngram_diversity,
    "curriculum_stage_assign": analytics5.curriculum_stage_assign,
    "dedup_clusters_star": pipeline.dedup_clusters_star,
    "near_dup_threshold_sweep": dedup.near_dup_threshold_sweep,
    "near_dup_threshold_sweep_check": dedup.near_dup_threshold_sweep_check,
    "simhash_near_dup_pairs": dedup.simhash_near_dup_pairs,
    "containment_pairs": dedup.containment_pairs,
    "containment_pairs_banded": dedup.containment_pairs_banded,
    "langid_confusion_matrix": text.langid_confusion_matrix,
    "incremental_winnow_novelty": analytics5.incremental_winnow_novelty,
}

#: embedding-table operators probed against a scaled embeddings table.
#: embedding_near_dup_pairs is the known-quadratic exact baseline (its row
#: count grows k²; the probe shows it); the LSH/SemDeDup paths should track
#: candidate volume instead.
EMB_OPS = {
    "embedding_near_dup_pairs": similarity.embedding_near_dup_pairs,
    "lsh_bucketed_pairs": similarity.lsh_bucketed_pairs,
    "lsh_pairs_at_theta": similarity.lsh_pairs_at_theta,
    "lsh_multiprobe_pairs": similarity.lsh_multiprobe_pairs,
    "semantic_dedup_pairs": similarity.semantic_dedup_pairs,
    "knn_join_topk": similarity.knn_join_topk,
    "pq_topk": similarity.pq_topk,
    "cosine_range_search": similarity.cosine_range_search,
    "label_balanced_sample": sampling.label_balanced_sample,
    "kcenter_coreset": coreset.kcenter_coreset,
    "hard_negative_mining": similarity.hard_negative_mining,
    "ann_knn_topk": similarity.ann_knn_topk,
    "hard_negative_mining_ann": similarity.hard_negative_mining_ann,
    "bitext_margin_pairs": similarity.bitext_margin_pairs,
    "bitext_margin_pairs_ann": similarity.bitext_margin_pairs_ann,
    "lsh_query_topk": similarity.lsh_query_topk,
    "incremental_semantic_pairs": similarity.incremental_semantic_pairs,
    "embedding_near_dup_pairs_theta": similarity.embedding_near_dup_pairs_theta,
    "mmr_diverse_topk": similarity.mmr_diverse_topk,
    "knn_graph_triangles": similarity.knn_graph_triangles,
    "label_propagation_knn": similarity.label_propagation_knn,
    "embedding_centroid_drift": similarity.embedding_centroid_drift,
    "embedding_dim_stats": analytics3.embedding_dim_stats,
    "embedding_gram_offdiag_topk": analytics4.embedding_gram_offdiag_topk,
    "ivfpq_topk": similarity.ivfpq_topk,
    "embedding_whiten_audit": similarity.embedding_whiten_audit,
}


_PATH_SEQ = [0]


def _next_seq() -> int:
    _PATH_SEQ[0] += 1
    return _PATH_SEQ[0]


def scaled_documents(docs, k: int):
    """k replicas with offset ids; replica i>0 applies a per-replica token
    RENAMING (every word suffixed with the replica marker). Renaming is a
    bijection of the shingle space, so each replica's internal pairwise
    Jaccard structure is EXACTLY the original's while replicas share no
    shingles with each other — pair output grows precisely with the data
    ratio. (Two rejected constructions, kept for the record: a prepended
    token leaves replicas >0.9-Jaccard near-dups of their originals — pair
    graph ~k², measured 5.6x at k=4; replacing every 3rd word with a
    marker shrinks and uniformizes shingle sets, inflating intra-replica
    pairs 70x. Growth must measure the algorithm, not the generator.)"""
    if k == 1:
        return docs
    offset = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = [
        docs.select(
            (F.col("doc_id") + F.lit(i * offset)).alias("doc_id"),
            (
                F.col("text")
                if i == 0
                else F.expr(
                    # NB: expr() strings pass through the SQL parser,
                    # which unescapes '\s' to 's' — the regex must be
                    # '\\s+' IN THE SQL TEXT (so four backslashes in
                    # Python source), same as sampling.py's expr regexes.
                    # With the single escape this split ran on runs of
                    # the LETTER s ("spark" -> "r1 park"), replicas
                    # shared most tokens with their originals, and every
                    # document-op pair graph grew superlinearly — the
                    # r10 "CC looks superlinear" confound in one char.
                    "concat_ws(' ', transform(split(trim(text), '\\\\s+'),"
                    f" w -> concat(w, 'r{i}')))"
                )
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(k)
    ]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionAll(r)
    # one write+read so every run starts from a comparable parquet scan.
    # The path is UNIQUE per call (never rewritten in-session): the slot
    # table's plan-level reuse guard (sameSemantics) cannot see bytes
    # change behind a path, so rewriting one mid-session served dropped
    # file listings to the measured run (r11 targeted probes).
    path = f"/tmp/scale_probe_docs_k{k}_{_next_seq()}"
    out.write.mode("overwrite").parquet(path)
    return docs.sparkSession.read.parquet(path)


def scaled_embeddings(emb, k: int):
    """k replicas with offset vec_ids; replica i's vector is circularly
    shifted by 7·i dimensions — norm-preserving but cosine-decorrelating,
    so replicas are NOT near-dups of their originals and pair output grows
    with the data ratio (a tiny additive perturbation left replicas at
    cosine ≈ 1, inflating every pair operator k² by construction —
    measured 6.9x at k=4 before this fix)."""
    if k == 1:
        return emb
    offset = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    reps = [
        emb.select(
            (F.col("vec_id") + F.lit(i * offset)).alias("vec_id"),
            F.expr(
                "transform(sequence(0, size(embedding) - 1),"
                f" j -> element_at(embedding, pmod(j + {7 * i},"
                " size(embedding)) + 1))"
            ).alias("embedding"),
            "label",
        )
        for i in range(k)
    ]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionAll(r)
    path = f"/tmp/scale_probe_emb_k{k}_{_next_seq()}"  # unique per call, see scaled_documents
    out.write.mode("overwrite").parquet(path)
    return emb.sparkSession.read.parquet(path)


def main() -> None:
    global OPS, EMB_OPS
    if ONLY_OPS:
        OPS = {n: f for n, f in OPS.items() if n in ONLY_OPS}
        EMB_OPS = {n: f for n, f in EMB_OPS.items() if n in ONLY_OPS}
    spark = get_spark(app_name="scale_probe")
    base = load_tables(spark, SF_DIR)
    results: dict[str, dict[int, float]] = {
        name: {} for name in (*OPS, *EMB_OPS)
    }
    counts: dict[str, dict[int, int]] = {name: {} for name in PAIR_COUNT_OPS}
    rows: dict[int, int] = {}
    # untimed warm-up pass: whole-stage-codegen compilation and JIT are
    # session-global and land on whichever op runs first — without this,
    # the k=KS[0] column absorbs all of it and growth ratios read as
    # spuriously sub-linear.
    warm_t = dict(base)
    warm_t["documents"] = scaled_documents(base["documents"], KS[0])
    warm_t["embeddings"] = scaled_embeddings(base["embeddings"], KS[0])
    for name, fn in {**OPS, **EMB_OPS}.items():
        spark.catalog.clearCache()
        fn(warm_t).write.mode("overwrite").format("noop").save()
    gc.collect()
    print("warm-up pass done", flush=True)
    for k in KS:
        docs = scaled_documents(base["documents"], k)
        emb_k = scaled_embeddings(base["embeddings"], k)
        t = dict(base)
        t["documents"] = docs
        t["embeddings"] = emb_k
        rows[k] = docs.count()
        for name, fn in {**OPS, **EMB_OPS}.items():
            # per-op fault isolation (r10: a driver-heap broadcast OOM at
            # k=8 killed the whole 75-minute probe run at the single
            # failing op) — record the failure, keep probing
            try:
                clear_persist_slots()  # warm-up labels would leak in
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(t).write.mode("overwrite").format("noop").save()
                warm = time.perf_counter() - t0
                # second run: measured figure (first absorbs cache/JIT);
                # drop the CC labels so the rerun measures the loop
                clear_persist_slots()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(t).write.mode("overwrite").format("noop").save()
                results[name][k] = round(
                    min(warm, time.perf_counter() - t0), 2
                )
                if name in PAIR_COUNT_OPS:
                    # untimed: the pair-graph/output size that CONTEXTS
                    # the timing (VERDICT r10 §3)
                    clear_persist_slots()
                    counts[name][k] = fn(t).count()
            except Exception as e:  # noqa: BLE001 — report-and-continue
                results[name][k] = None
                print(
                    f"k={k} {name}: FAILED "
                    f"{type(e).__name__}: {str(e)[:200]}",
                    flush=True,
                )
            # the probe rewrites its replicated corpus between ks, and a
            # plan-level reuse guard can't see bytes change behind a path
            clear_all(spark)
            cnote = (
                f" rows={counts[name][k]:,}"
                if counts.get(name, {}).get(k) is not None
                else ""
            )
            print(f"k={k} {name}: {results[name][k]}s{cnote}", flush=True)

    # extended single-op probe: semantic_dedup_pairs at k=16 (VERDICT r7
    # §2 asked the two-level quantizer to hold α ≤ 0.3 out to k=16; the
    # full op matrix at k=16 would spend most of its time in the declared
    # exact-baseline quadratic ops, so only the fixed op runs there)
    import math as _math

    ext_k = int(os.environ.get("SPARK_GRAFT_PROBE_EXT_K", "16"))
    # (name, table to scale, claim note) — one octave past the matrix for
    # the ops whose scale posture was a verdict item; the full matrix at
    # k=16 would spend most of its time in the declared exact-baseline
    # quadratic ops
    EXT_OPS = [
        ("semantic_dedup_pairs", "embeddings",
         "two-level quantizer; target ≤ 0.3"),
        ("winnow_fingerprint_pairs", "documents",
         "map-only barrier extraction, r9"),
        ("near_dup_threshold_sweep", "documents",
         "banded candidates, r9; target ≤ 0.5"),
        ("containment_pairs_banded", "documents",
         "banded candidates + exact containment rescore, r10; target ≤ 0.5"),
        ("simhash_near_dup_pairs", "documents",
         "sub-band-refined banding, r11; VERDICT r10 §2 re-probe"),
        ("knn_graph_triangles", "embeddings",
         "IVF-routed ANN edge build, r10; target ≤ 0.4"),
        ("label_propagation_knn", "embeddings",
         "IVF-routed ANN edge build, r10; target ≤ 0.4"),
    ]
    ext_lines = []
    if ext_k > KS[-1]:
        ext_tables = dict(base)
        ext_tables["embeddings"] = scaled_embeddings(base["embeddings"], ext_k)
        ext_tables["documents"] = scaled_documents(base["documents"], ext_k)
        for ext_name, _kind, claim in EXT_OPS:
            fn = EMB_OPS.get(ext_name) or OPS[ext_name]
            if results.get(ext_name, {}).get(KS[0]) is None:
                continue  # matrix run failed; no base time to compare
            runs = []
            try:
                for _ in range(2):
                    clear_all(spark)
                    t0 = time.perf_counter()
                    fn(ext_tables).write.mode("overwrite").format(
                        "noop"
                    ).save()
                    runs.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 — report-and-continue
                print(
                    f"ext k={ext_k} {ext_name}: FAILED "
                    f"{type(e).__name__}: {str(e)[:200]}",
                    flush=True,
                )
                continue
            ext_time = round(min(runs), 2)
            ext_alpha = _math.log(
                ext_time / results[ext_name][KS[0]]
            ) / _math.log(ext_k / KS[0])
            ext_lines.append(
                f"- Extended probe: `{ext_name}` at k={ext_k} → "
                f"{ext_time:.2f}s, α(k=1→{ext_k}) ≈ {ext_alpha:.2f} "
                f"({claim})."
            )
            print(
                f"extended k={ext_k} {ext_name}: {ext_time}s "
                f"α={ext_alpha:.2f}",
                flush=True,
            )
    extended_note = "\n".join(ext_lines)

    k0 = KS[0]
    lines = [
        "# SCALE — empirical operator scaling (tools/scale_probe.py)",
        "",
        f"Documents replicated k× from `{SF_DIR}` (per-replica token",
        "renaming: intra-replica similarity preserved exactly, zero",
        "cross-replica overlap; embeddings circularly shifted per replica).",
        "Each cell is",
        "min-of-2 wall seconds; `×N` is time ratio vs k=1 — compare against",
        f"the data ratio. Rows at k: {', '.join(f'{k}→{rows[k]:,}' for k in KS)}.",
        "",
        "| operator | " + " | ".join(f"k={k}" for k in KS) + " | growth |",
        "|---|" + "---|" * (len(KS) + 1),
    ]
    import math

    for name, times in results.items():
        if any(times.get(k) is None for k in KS):
            cells = " | ".join(
                "FAILED" if times.get(k) is None else f"{times[k]:.2f}s"
                for k in KS
            )
            lines.append(f"| {name} | {cells} | see probe log |")
            continue
        ratio = times[KS[-1]] / times[k0] if times[k0] else float("nan")
        cells = " | ".join(f"{times[k]:.2f}s" for k in KS)
        # growth exponent α: time ∝ data^α over the measured span — a
        # fixed multiplicative slack mislabels at larger spans (×10 time
        # on ×8 data is NOT linear), the exponent doesn't
        data_ratio = KS[-1] / k0
        alpha = (
            math.log(ratio) / math.log(data_ratio)
            if ratio > 0 and data_ratio > 1
            else float("nan")
        )
        if alpha <= 1.05:
            verdict = f"~linear or better (α≈{alpha:.2f})"
        elif alpha <= 1.3:
            verdict = f"mildly superlinear (α≈{alpha:.2f})"
        else:
            verdict = f"SUPER-LINEAR (α≈{alpha:.2f})"
        lines.append(f"| {name} | {cells} | ×{ratio:.1f} — {verdict} |")

    # pair-graph context (VERDICT r10 §3): output row counts of the
    # pair-driven ops per k, with the count exponent beside the time
    # exponent — a superlinear TIME cell with a ~linear COUNT column is
    # environment/op, never generator-inflated pair volume.
    counted = {n: c for n, c in counts.items() if all(k in c for k in KS)}
    if counted:
        lines += [
            "",
            "## Pair-graph sizes (output rows per k)",
            "",
            "The generator contract — per-replica token renaming /",
            "circular embedding shifts — holds the duplication RATE",
            "constant, so pair counts should grow ~linearly (count",
            "exponent ≈ 1). A time exponent far above its count exponent",
            "is op/environment growth; a count exponent ≫ 1 would mean",
            "the generator, not the operator, inflated the workload.",
            "",
            "| operator | " + " | ".join(f"k={k}" for k in KS)
            + " | count exponent |",
            "|---|" + "---|" * (len(KS) + 1),
        ]
        for name in sorted(counted):
            c = counted[name]
            cr = c[KS[-1]] / c[k0] if c[k0] else float("nan")
            ce = (
                math.log(cr) / math.log(KS[-1] / k0)
                if cr > 0 and KS[-1] > k0
                else float("nan")
            )
            cells = " | ".join(f"{c[k]:,}" for k in KS)
            lines.append(f"| {name} | {cells} | {ce:.2f} |")

    lines += [
        "",
        "Footnotes (by-design shapes, not regressions):",
        "",
        "- `knn_join_topk` / `hard_negative_mining` are the EXACT all-pairs",
        "  baselines: the blocked matmul computes n²/2 dot products by",
        "  definition, so time ∝ data² once compute-bound (visible from",
        "  k=4→8). Round 10 added their IVF-routed production twins",
        "  `ann_knn_topk` / `hard_negative_mining_ann` (per-cell top-k,",
        "  linear candidates, recall contracts `ann_knn_recall_check` /",
        "  `hardneg_recall_check`); the query-ANN serving paths remain",
        "  `ivf_topk` / `pq_topk` / `lsh_query_topk`. Same treatment as",
        "  `ngram_jaccard_pairs` vs `minhash_lsh_pairs` on the text side.",
        "- `knn_graph_triangles` / `label_propagation_knn` (round 10) ride",
        "  the ANN edge build (`_mutual_knn_edges` over `ann_knn_topk`), so",
        "  their growth now tracks the linear candidate stage instead of",
        "  the exact kNN matmul; edge recall is driver-checked by",
        "  `knn_edge_agreement_check`.",
        "- `ngram_jaccard_pairs` is the exact-Jaccard baseline (pair-density",
        "  driven); `minhash_lsh_pairs` (α≈0.2) is the production path.",
        "- GENERATOR FIX (r11): the replica token renaming had a",
        "  one-char escape bug — expr() strings pass the SQL parser,",
        "  which unescapes '\\s+' to 's+', so the split ran on runs of",
        "  the LETTER s ('spark' → 'r1 park'); replicas shared most",
        "  tokens with their originals and every document-op pair graph",
        "  grew superlinearly (359 cross-replica Jaccard pairs at k=2,",
        "  sf0.1 — vs 0 by design). All α cells before r11 carried that",
        "  confound; the tables above are measured on the fixed",
        "  generator (cross-replica pairs: 0, intra sets exact copies —",
        "  pinned by tests::test_scale_probe_replication_is_token_bijective).",
        "- `simhash_near_dup_pairs` α VERDICT (r11, fresh-JVM-per-cell",
        "  protocol, idle host, k=1,2,4,8,16 each in its own process,",
        "  fixed generator): cells 1.80/1.99/2.78/2.86/2.90 s, pairs",
        "  1,328→15,532 (count exponent 0.89 — constant dup-rate holds)",
        "  → α(1→16) ≈ 0.17, α(1→8) ≈ 0.22. The r9 ≤0.4 band REPRODUCES",
        "  on the r11 sub-band-refined code; r10's 0.55–0.75 cells were",
        "  the generator confound (under the broken renaming the pair",
        "  count exponent was 2.07 — 411k pairs at k=16 — because",
        "  replicas kept most raw tokens, yet time α still measured",
        "  0.26–0.29 fresh: the capped banding held time near-linear",
        "  against quadratic output) plus shared-matrix-JVM noise.",
        "  Rung verdict: SETTLED at α≈0.2.",
        "- `dedup_clusters` re-measure at CONSTANT dup-rate (r11 fresh-JVM",
        "  cells, fixed generator): 2.94/3.79/5.74/10.48 s at k=1/2/4/8",
        "  with output rows EXACTLY k×477 (count exponent 1.00) →",
        "  α ≈ 0.61 — inside the r9 0.6–0.8 expected band; the r10",
        "  α≈1.20 cell and its k=4→8 cliff were the generator confound,",
        "  not a CC regression. `dedup_clusters_star` same protocol:",
        "  3.98/3.85/3.72/4.67 s → α ≈ 0.08. `knn_join_topk`:",
        "  0.82/0.78/1.38/6.82 s → α ≈ 1.02 (the declared exact matmul",
        "  baseline going compute-bound, rows exactly linear).",
        "- `containment_pairs` rides the exact capped index (only the gate",
        "  differs), so it is priced like `ngram_jaccard_pairs` — since",
        "  round 10 it is the declared audit/campaign baseline;",
        "  `containment_pairs_banded` (MinHash band candidates rescored",
        "  with exact uncapped containment, `containment_recall_check`",
        "  contract) is the production path.",
        "- `near_dup_threshold_sweep` (round 9) rides the BANDED MinHash",
        "  candidates with exact rescoring per θ, so its growth tracks",
        "  `minhash_lsh_pairs` — the 100 TB path. The exact capped-index",
        "  twin `near_dup_threshold_sweep_check` keeps the hash-checked",
        "  campaign-priced curve (growth = `ngram_jaccard_pairs` by",
        "  construction).",
        "- `dedup_clusters_star` = the same pair discovery + star contraction;",
        "  its growth is pair-source-bound like `dedup_clusters`, with",
        "  per-round shuffles sized by the contracting edge set.",
        "- `winnow_fingerprint_pairs` growth is fingerprint-pair-density",
        "  driven (replicas add disjoint fingerprints; the DF cap bounds",
        "  per-key fanout). Round 9 moved the batch extraction to a",
        "  Catalyst MAP-ONLY form (true winnowing; md5 array materialized",
        "  once per doc behind a generator barrier, per-window argmin as",
        "  array expressions — no k-gram row ever shuffles, no Python in",
        "  the plan); the Arrow kernel remains the streaming extraction",
        "  and the position-pinned equality check.",
        "- `incremental_winnow_novelty` measured α≈0.20 (k=1→8, one-off):",
        "  the batch side is fixed-size by construction; growth comes only",
        "  from the corpus fingerprint index the join probes.",
        "- `dedup_clusters` growth tracks the pair-graph size (CC rounds are",
        "  log-bounded via pointer doubling); at a fixed duplication RATE its",
        "  input grows linearly with the corpus — the pair-graph table above",
        "  states the measured count exponent next to the time exponent, so",
        "  a superlinear time cell is attributable (VERDICT r10 §3).",
        "- `dup_leakage_matrix` inherits its pair source's growth: it is the",
        "  exact `ngram_jaccard_pairs` frame plus pair-sized metadata joins",
        "  and a |sources|²-bounded rollup — registered as the _check of",
        "  `dup_leakage_matrix_minhash`, the banded production wiring whose",
        "  own row above tracks the candidate-proportional minhash source.",
        "- `semantic_dedup_pairs` uses a TWO-LEVEL quantizer (round 8):",
        "  coarse spherical k-means with √k_total routing centroids",
        "  (broadcast/driver model state O(√n) — ~31 MB at 10¹⁰×768d,",
        "  vs ~150 GB for the old single-level k ∝ n rule), then local",
        "  fine k-means INSIDE each coarse branch task (fine codebooks",
        "  never touch the driver). Fine cells stay ~TARGET-sized, so the",
        "  pairwise block is bounded and total pairwise cost stays linear;",
        "  assignment FLOPs are n·d·O(√k), not the old n²·d/TARGET.",
        extended_note,
    ]
    if ONLY_OPS:
        # targeted re-measure (SPARK_GRAFT_PROBE_OPS): report to stdout
        # only — never clobber the full-matrix SCALE.md with a slice
        print("\n".join(lines))
        return
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
