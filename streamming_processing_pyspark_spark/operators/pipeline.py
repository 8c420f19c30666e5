"""Training-data-pipeline operators over the ``documents`` table.

The corpus-curation surface a large-scale LLM-pretraining pipeline needs
beyond dedup/similarity (see ``dedup.py`` / ``similarity.py``): Gopher-style
repetition filtering, deterministic stratified sampling, sequence packing
(concat-and-chunk bin assignment), exact heavy-hitter n-grams, regex
scrub/redaction, and connected-components clustering of near-duplicate
pairs. The reference has no document pipeline (it is a taxi-stream demo:
``Task1.py``–``Task4.py``, ``Client.py``); these are the north-star
extensions from BASELINE.json, designed Spark-first:

- every scalar stage is Catalyst-only (no Python in the hot path);
- the two shuffling ops (repetition filter, heavy hitters) are plain
  groupBy aggregations with map-side partial combine;
- packing is windowed *per shard*, so at 100 TB each shard's running sum
  is an independent partition — no global sort, no single-task window;
- clustering is iterative min-label propagation over DataFrames (the
  standard large-graph connected-components formulation; GraphFrames-free);
  a pair graph smaller than one of its partitions is labelled by a driver
  union-find instead.

Every op but the iterative one has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fold_hash, fold_hash_duck, words
from ..tables import clear_persist_slots, held
from .dedup import (
    INCR_BATCH_MOD,
    _contract_duck,
    _near_dup_components_duck,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

Tables = dict[str, DataFrame]

#: languages get an explicit keep-rate (percent of 97 hash buckets); the
#: rest fall through to the default — the usual "rebalance the language
#: mix" curation step.
SAMPLE_RATES = {"en": 80, "de": 50, "zh": 25}
SAMPLE_DEFAULT = 10

#: concat-and-chunk sequence length (tokens) and shard fan-out for packing.
PACK_SEQ_LEN = 512
PACK_SHARDS = 8

#: regex scrub pattern — stands in for the usual PII patterns (emails,
#: phone numbers); the synthetic corpus has none, so a content-word class
#: keeps the op observable end-to-end.
SCRUB_PATTERN = r"\b(table|value|key)\b"

CC_MAX_ITERS = 50


def repetition_filter(t: Tables) -> DataFrame:
    """Gopher-style repetition metrics + keep/drop flag per document.

    ``dup_token_ratio`` (1 − distinct/total) and ``top_token_ratio``
    (most-frequent token share) are the token-level analogues of the
    duplicate-line / top-n-gram fractions in Rae et al. 2021 (Gopher,
    §A1.1). Two groupBy stages, both with map-side combine; the first
    exchange carries the exploded tokens, the second only the already
    reduced per-(doc, word) counts (PLANS.md: 2 shuffles, 3 codegen spans).
    """
    tok = t["documents"].select("doc_id", F.explode(words("text")).alias("w"))
    per_word = tok.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    m = per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    dup = F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 4)
    top = F.round(F.col("top_cnt") / F.col("n_tokens"), 4)
    return m.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dup.alias("dup_token_ratio"),
        top.alias("top_token_ratio"),
        ((dup <= 0.8) & (top <= 0.2)).alias("keep"),
    )


def _sample_bucket(doc_id: Column) -> Column:
    # Deterministic affine hash → bucket in [0, 97). Production would use
    # xxhash64 (not SQL-portable); the affine form lets DuckDB reproduce
    # the exact bucket so the sample itself is oracle-checkable.
    return (doc_id * 1000003 + 12345) % 97


def stratified_sample(t: Tables) -> DataFrame:
    """Deterministic per-language downsampling (language-mix rebalance).

    Keep a document iff its hash bucket < the language's rate. Hash-based
    (not ``df.sample``) so the sample is reproducible run-to-run and
    join-stable across tables — at 100 TB you must be able to re-derive
    exactly which docs were kept. Pure map stage: no shuffle, no state.
    """
    rate_map = F.create_map(
        *[F.lit(x) for kv in SAMPLE_RATES.items() for x in kv]
    )
    rate = F.coalesce(rate_map[F.col("lang")], F.lit(SAMPLE_DEFAULT))
    return (
        t["documents"]
        .withColumn("bucket", _sample_bucket(F.col("doc_id")))
        .where(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


#: shard count for the deterministic training shuffle. Locally 16; at
#: 100 TB this is thousands (shards ≈ output files), which only widens the
#: parallelism — the plan shape (one hash shuffle + per-shard local sort)
#: is unchanged.
SHUFFLE_SHARDS = 16
#: affine order-key parameters (SQL-portable — no xxhash64 in DuckDB).
_SHUF_MOD = 2147483647  # 2^31 - 1


def shard_shuffle_assign(t: Tables) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    (shard, position) — the final step before writing training shards.

    A global ORDER BY random() is the naive formulation and a single
    total-sort at 100 TB; this instead hash-assigns each doc a
    pseudo-random order key, buckets by ``key % SHUFFLE_SHARDS`` (ONE hash
    shuffle), and sorts WITHIN each shard only (parallel local sorts, one
    per shard/output file). Reading shards in any order and each shard
    sequentially yields a reproducible uniform shuffle, and the affine key
    means the exact same permutation can be re-derived for resume or
    audit. Overflow-safe in plain int64 on both engines
    ((doc_id % M) * 1000003 + 12345 < 2^62), so the DuckDB oracle
    reproduces every position bit-for-bit.
    """
    okey = (
        (F.col("doc_id") % F.lit(_SHUF_MOD)) * F.lit(1000003) + F.lit(12345)
    ) % F.lit(_SHUF_MOD)
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        t["documents"]
        .select("doc_id", okey.alias("okey"))
        .withColumn("shard", (F.col("okey") % SHUFFLE_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# INCR_BATCH_MOD (imported from .dedup) splits documents into
# "already-ingested corpus" vs "incoming batch" for both incremental ops.


def incremental_exact_dedup(t: Tables) -> DataFrame:
    """Incremental-ingest dedup: the other half of :mod:`.dedup`'s batch
    ladder — documents arriving in a NEW batch survive only if their text
    hash is unseen in the already-ingested corpus. Here the corpus is
    ``doc_id % INCR_BATCH_MOD != 0`` and the batch the rest (a stand-in
    for yesterday's table vs today's drop). Anti-join on md5(text): the
    corpus side reduces to distinct fixed-width hashes before the join,
    so at 100 TB the shuffle carries 16-byte keys, not documents — and a
    bucketed corpus-hash table makes the anti-join shuffle-free on the
    corpus side. Intra-batch dups are then collapsed by the same
    ``exact_dedup`` pass.
    """
    docs = t["documents"]
    corpus = (
        docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    incoming = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    return (
        incoming.select("doc_id", F.md5("text").alias("h"))
        .join(corpus, "h", "left_anti")
        .select("doc_id")
    )


#: per-language token budget for token_budget_sample
LANG_TOKEN_BUDGET = 10000


def token_budget_sample(t: Tables) -> DataFrame:
    """Data-mixing sampler: fill a fixed token budget per language.

    Where :func:`stratified_sample` applies *static* rates, this computes
    the rate from the data: per-language token totals → keep fraction
    ``min(1, budget/total)`` → deterministic hash-bucket sample at that
    fraction. The language-totals frame is |languages| rows → broadcast
    back onto the map-side filter; thresholds are derived in pure int64
    arithmetic (``(97·B + T − 1) div T``) so the oracle reproduces the
    exact kept set. This is the "rebalance the corpus to a target mixture"
    step of a pretraining data pipeline, shaped to stay one broadcast join
    plus a map-only filter at any scale.
    """
    d = t["documents"].select(
        "doc_id",
        "lang",
        F.size(words("text")).alias("n_tokens"),
    )
    totals = d.groupBy("lang").agg(F.sum("n_tokens").alias("total"))
    thresh = F.least(
        F.lit(97).cast("long"),
        F.expr(f"(97 * {LANG_TOKEN_BUDGET} + total - 1) div total"),
    )
    return (
        d.join(F.broadcast(totals.select("lang", thresh.alias("thresh"))), "lang")
        .withColumn("bucket", _sample_bucket(F.col("doc_id")))
        .where(F.col("bucket") < F.col("thresh"))
        .select("doc_id", "lang", "n_tokens", "bucket", "thresh")
    )


#: cumulative bucket edges over 100 group-hash buckets: [0,90) train,
#: [90,95) val, [95,100) test.
SPLIT_TRAIN_END = 90
SPLIT_VAL_END = 95


def leakage_safe_split(t: Tables) -> DataFrame:
    """Group-aware train/val/test split: every document from one ``source``
    lands in the SAME split.

    Random row-level splits leak near-duplicates across the train/eval
    boundary (documents from one crawl domain / book / repo are highly
    correlated), silently inflating eval scores — the standard fix is to
    split on the GROUP key, not the row. Assignment is a pure function of
    ``source`` (map-only: no shuffle, no split table to join), so it is
    reproducible run-to-run, and any other table keyed by source derives
    the identical split without coordination — at 100 TB there is nothing
    to broadcast and nothing to keep consistent. Fractions are approximate
    by construction (group sizes vary); exactness is not the contract,
    group-atomicity is.
    """
    return (
        t["documents"]
        .withColumn("bucket", fold_hash("source") % 100)
        .select(
            "doc_id",
            "source",
            "bucket",
            F.when(F.col("bucket") < SPLIT_TRAIN_END, "train")
            .when(F.col("bucket") < SPLIT_VAL_END, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def token_pack_bins(t: Tables) -> DataFrame:
    """Sequence packing: concat-and-chunk bin assignment per shard.

    Documents are concatenated in ``doc_id`` order within a hash shard and
    chunked every ``PACK_SEQ_LEN`` tokens; each doc's bin is the chunk its
    first token lands in — the standard pretraining packing layout. The
    running sum is windowed **per shard** (``partitionBy(shard)``), so the
    window never degenerates to a single global-sort task: shards scale
    with the cluster, and ``PACK_SHARDS`` would be O(executors) at 100 TB.
    """
    d = t["documents"].select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(words("text")).alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        offset.alias("offset"),
        F.floor(offset / PACK_SEQ_LEN).alias("bin_id"),
    )


def heavy_hitter_bigrams(t: Tables) -> DataFrame:
    """Exact corpus-wide top-20 word bigrams (tie-broken lexically).

    ``zip_with`` over two slices builds bigrams JVM-side with zero Python;
    explode → groupBy → count is one shuffle with partial aggregation, and
    the top-k is a ``TakeOrderedAndProject`` (no full sort). The exact
    baseline for frequency-based boilerplate detection; at 100 TB swap in
    a count-min sketch or pre-aggregate per partition before the take.
    """
    bi = F.expr(
        "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    return (
        t["documents"]
        .select(words("text").alias("ws"))
        .select(F.explode(bi).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(20)
    )


def regex_scrub(t: Tables) -> DataFrame:
    """Regex redaction: match count + hash of the scrubbed text.

    The PII-scrub shape (swap ``SCRUB_PATTERN`` for email/phone/SSN
    classes in production). ``regexp_count`` / ``regexp_replace`` are
    codegen'd JVM regex — a map-only pass; the md5 keeps the oracle
    comparison on a short column instead of shipping full scrubbed text.
    """
    pat = SCRUB_PATTERN
    return t["documents"].select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).alias("n_matches"),
        F.md5(F.regexp_replace("text", pat, "<TOK>")).alias("scrubbed_md5"),
    )


#: rounds the last _connected_components call took to converge (the
#: O(log diameter) bound is pinned by tests/test_operators.py on a
#: 64-edge chain graph — a plain neighbor-min loop would take ~64 rounds);
#: 0 when the graph was small enough to be labelled on the driver
LAST_CC_ROUNDS = 0

#: pair-graph edges per partition of the CC loop's shuffles; a graph with
#: fewer edges than one partition's worth is labelled on the driver
CC_PAIRS_PER_PARTITION = 50_000

#: CC labels live in the slot table, released by its one clear
clear_cc_memo = clear_persist_slots


def _connected_components(
    pairs: DataFrame, slot: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Min-label connected components over an (id_a, id_b) pair frame →
    (doc_id, component) labels, component = the minimum id reachable. The
    pair plan is checkpointed here — exactly once, eagerly — so the
    (expensive) pair-discovery pipeline materializes a single time and the
    edge count that picks the path below is free.

    Two paths, one output (same rows, same schema, nullability included):

    - **Driver** — a graph with fewer than ``CC_PAIRS_PER_PARTITION``
      edges (less than one loop partition's worth) is collected and
      labelled by one union-find pass that keeps each component's minimum
      id, and returned as an Arrow-backed frame. On a small graph the
      loop's cost is per-job planning and scheduling, not graph work:
      at sf0.1 it ran 2 rounds and 22 jobs to label 256 edges, where the
      driver pass runs the one collect job. The labels sit in driver
      memory and the frame's plan carries them, so they need no reliable
      checkpoint: losing an executor loses nothing that cannot be
      re-sent.
    - **Loop** — every larger graph runs iterative min-label propagation
      on DataFrames, the only path that scales to a 100 TB pair graph.
      Each round is one neighbor-min join + one pointer-doubling
      self-join (label ← label[label]). Plain neighbor-min alone needs
      O(component diameter) rounds; the doubling step halves the distance
      to the component minimum every round, so chain-shaped clusters
      converge in O(log diameter) — the same round bound as
      star-contraction CC. Checkpointing truncates lineage so plans don't
      grow exponentially.

    Durability (loop): ``checkpoint_dir`` (or
    ``$SPARK_GRAFT_CHECKPOINT_DIR``) switches the checkpoints from
    ``localCheckpoint`` (executor-local blocks — fast, but lost with a
    failed executor, killing a long campaign run) to RELIABLE
    ``checkpoint()`` into that directory (HDFS/S3 on a cluster): every
    round's state survives executor loss and the loop restarts tasks,
    not the campaign. Local mode keeps the default localCheckpoint —
    single-JVM executors can't fail independently. The pair checkpoint
    honours the same mode on both paths. This is the scalable
    GraphFrames-free formulation, shared by every registered pair source.

    The labels are held in the caller's ``slot`` of the slot table
    (:func:`tables.persist_replacing`), one per checkpoint mode.
    """
    import os

    if checkpoint_dir is None:
        checkpoint_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    # the checkpoint mode is part of the slot: labels built under
    # localCheckpoint must not satisfy a reliable-mode request
    mode = "reliable" if checkpoint_dir else "local"
    return held(
        f"{slot}.cc.{mode}", pairs, lambda: _cc_labels(pairs, checkpoint_dir)
    )[1]


def _cc_labels(pairs: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    spark = pairs.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df, eager=True: df.checkpoint(eager=eager)
    else:
        _ckpt = lambda df, eager=True: df.localCheckpoint(eager=eager)
    # ONE checkpoint: materializes pair discovery and makes the count
    # below free. (A second checkpoint after the repartition would store
    # the pair RDD twice until GC — the storage leak bench.py has to
    # gc-collect around.)
    pairs = _ckpt(pairs)
    n_pairs = pairs.count()
    if n_pairs < CC_PAIRS_PER_PARTITION:
        global LAST_CC_ROUNDS
        LAST_CC_ROUNDS = 0
        return _driver_labels(pairs)
    # Size the loop's shuffles to the GRAPH, not the corpus: near-dup pairs
    # are a tiny fraction of the input, so running every CC round at the
    # corpus-sized shuffle width pays pure scheduling overhead per round;
    # the width grows back to the configured shuffle partitions once the
    # pair graph is big enough to need them. The repartition stays LAZY —
    # its shuffle runs once and later jobs reuse the shuffle files.
    width = max(
        2,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_pairs // CC_PAIRS_PER_PARTITION + 2,
        ),
    )
    return _loop_labels(pairs.repartition(width), _ckpt)


def _edges(pairs: DataFrame) -> DataFrame:
    """(src, dst): the pair graph mirrored, each edge in both directions."""
    return pairs.union(pairs.select(F.col("id_b"), F.col("id_a"))).toDF(
        "src", "dst"
    )


def _driver_labels(pairs: DataFrame) -> DataFrame:
    """The driver path of :func:`_connected_components`: collect the
    pairs, union-find with the smaller root kept, and return the labels
    with the loop's schema. Built from a pyarrow table, so the frame is
    Arrow-backed whatever the session's Arrow setting: reading it needs no
    Python worker (a pickled row list would cost a worker round trip on
    every read). A NULL id labels itself NULL and joins nothing, as in the
    loop, whose joins never match a NULL key."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    src = F.col("src")
    schema = _edges(pairs).select(src.alias("doc_id"), src.alias("component")).schema
    nodes = list(parent)
    # createDataFrame casts the columns to the schema's Arrow types
    table = pa.table({"doc_id": nodes, "component": [find(x) for x in nodes]})
    return pairs.sparkSession.createDataFrame(table, schema)


def _loop_labels(pairs: DataFrame, ckpt) -> DataFrame:
    """The loop path of :func:`_connected_components` over checkpointed
    ``pairs``, ``ckpt`` the checkpoint of the caller's mode."""
    edges = _edges(pairs)
    labels = ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=False,  # materialized by round 1's action
    )
    # Convergence check: labels only ever DECREASE (least of self and
    # neighbor minima), so sum(label) is strictly monotone until the fixed
    # point — an equal sum proves convergence. One cheap scalar aggregate
    # per round instead of a join+count of new vs old labels (halves the
    # per-iteration job count; on a 100 TB graph it removes a full shuffle
    # join per round). No up-front sum: round 1 compares against the None
    # sentinel, which only an empty graph (sum NULL) matches — and an
    # empty graph IS converged.
    label_sum = None
    rounds = 0
    for _ in range(CC_MAX_ITERS):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        propagated = labels.join(nbr_min, labels.node == nbr_min.dst, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        )
        # pointer doubling: label values are themselves node ids, so one
        # self-join rewrites each label to its label's label — labels only
        # decrease, correctness is unchanged, rounds drop to O(log d)
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # lazy checkpoint: the convergence aggregate right below is the
        # round's one action — it materializes the checkpoint as a side
        # effect, halving the jobs per round vs an eager checkpoint
        new_labels = ckpt(
            propagated.join(parent, propagated.label == parent.p_node, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias(
                    "label"
                ),
            ),
            eager=False,
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == label_sum:
            break
        label_sum = new_sum
    else:  # pragma: no cover - safety net for pathological chains
        raise RuntimeError("dedup_clusters did not converge")
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = rounds
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def dedup_clusters(t: Tables, checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over the exact near-duplicate pairs → cluster
    labels: one canonical component id (= min doc_id reachable) per
    clustered document. Pair source: :func:`dedup.ngram_jaccard_pairs`
    (capped inverted index). Oracle: DuckDB recursive CTE computing min
    reachable id. CC shared with :func:`dedup_clusters_minhash` — see
    :func:`_connected_components` for its two paths and their bounds.

    The shared loop checkpoints the pair list BEFORE edge mirroring: a
    union of the raw pair plan with its swap would run the whole
    shingle→posting→pair pipeline twice in one action.
    """
    return _connected_components(
        ngram_jaccard_pairs(t).select("id_a", "id_b"),
        "dedup_clusters",
        checkpoint_dir,
    )


def dedup_clusters_minhash(
    t: Tables, checkpoint_dir: str | None = None
) -> DataFrame:
    """The 100 TB dedup-campaign composition (DEPLOY.md §6): connected
    components fed from :func:`dedup.minhash_lsh_pairs` — candidate
    discovery is banded LSH (cost ∝ candidates, immune to the shingle
    self-join's hot keys) and every candidate is exact-Jaccard verified,
    so the edge set is a high-recall subset of the exact pairs. Labels
    therefore REFINE the exact clustering (each MinHash cluster sits
    inside one exact cluster — pinned in
    tests/test_operators.py::test_minhash_clusters_refine_exact).
    Rows-only driver check: the pair source is xxhash64-based and not
    SQL-reproducible; its quality contract is ``minhash_recall_check``.
    """
    return _connected_components(
        minhash_lsh_pairs(t).select("id_a", "id_b"),
        "dedup_clusters_minhash",
        checkpoint_dir,
    )


def dedup_clusters_minhash_check(t: Tables) -> DataFrame:
    """Hard driver contract for :func:`dedup_clusters_minhash` (itself
    rows-only — xxhash64 MinHash isn't SQL-reproducible), following the
    pattern of every other approximate op's ``*_check``: one row whose
    exact fields the oracle RECOMPUTES and whose claim flags it expects
    TRUE. Fields: the exact clustering's doc/component counts (DuckDB
    recursive CTE recomputes both), ``refine_ok`` — every MinHash
    component's members share ONE exact component (LSH edges are a
    verified subset of exact edges, so MinHash clusters can only split,
    never merge, exact clusters) — and ``covered_ok`` — every
    MinHash-clustered doc is exact-clustered too."""
    exact = dedup_clusters(t).select(
        "doc_id", F.col("component").alias("exact_comp")
    )
    mh = dedup_clusters_minhash(t).select(
        "doc_id", F.col("component").alias("mh_comp")
    )
    per_mh = (
        mh.join(exact, "doc_id", "left")
        .groupBy("mh_comp")
        .agg(
            F.countDistinct("exact_comp").alias("n_exact_in"),
            F.sum(F.col("exact_comp").isNull().cast("long")).alias("n_uncovered"),
        )
    )
    claims = per_mh.agg(
        F.coalesce(
            F.max((F.col("n_exact_in") > 1).cast("long")), F.lit(0)
        ).alias("bad_refine"),
        F.coalesce(F.sum("n_uncovered"), F.lit(0)).alias("n_uncov"),
    )
    stats = exact.agg(
        F.count("*").alias("n_exact_docs"),
        F.countDistinct("exact_comp").alias("n_exact_components"),
    )
    return stats.crossJoin(claims).select(
        "n_exact_docs",
        "n_exact_components",
        (F.col("bad_refine") == 0).alias("refine_ok"),
        (F.col("n_uncov") == 0).alias("covered_ok"),
    )


def dedup_canonical_docs(
    t: Tables, checkpoint_dir: str | None = None
) -> DataFrame:
    """The dedup pipeline's OUTPUT: doc_ids that survive near-dup removal.

    A document survives iff it is not in any near-dup cluster, or it is
    its cluster's representative (the min doc_id — the component label
    from :func:`dedup_clusters`). This is the set a training pipeline
    feeds downstream; at 100 TB the cluster map is a small fraction of
    the corpus, so the final filter is a broadcast-able left join.
    In a session that just ran :func:`dedup_clusters` on the same corpus
    this reuses its converged labels instead of re-running the loop.
    """
    clusters = dedup_clusters(t, checkpoint_dir)
    return (
        t["documents"]
        .select("doc_id")
        .join(F.broadcast(clusters), "doc_id", "left")
        .where(
            F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id")
    )


def dedup_cluster_size_histogram(t: Tables) -> DataFrame:
    """Cluster-size distribution of the exact near-dup clustering
    (:func:`dedup_clusters`) — the dedup campaign's report card: how much
    redundancy sits in pairs vs giant templated clusters (a few huge
    clusters mean boilerplate; many near-pairs mean true near-copies).

    Cost on top of the CC labels (reused from their slot when a
    sibling query just converged them): one groupBy(component) on the
    cluster map — graph-sized, not corpus-sized — plus a bounded
    histogram rollup. ``docs_removed`` per size = (size − 1)·n_clusters,
    the exact dedup yield attributable to that cluster size."""
    sizes = (
        dedup_clusters(t)
        .groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "docs_removed"
            ),
        )
    )


#: round cap for the star-contraction loop (alternating large/small star
#: halves component height, so real graphs converge in O(log n) rounds)
STAR_MAX_ITERS = 30

#: rounds the last _star_connected_components call took (probe telemetry)
LAST_STAR_ROUNDS = 0


def _star_connected_components(pairs: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) over an
    (id_a, id_b) pair frame → (doc_id, component) labels, component = min
    reachable id. The published alternative to
    :func:`_connected_components`' min-label + pointer-doubling loop,
    here as an independently-derived second implementation whose labels
    are equality-pinned against it (tests) and against the same recursive
    -CTE oracle (driver).

    Per round, each op is ONE groupBy(min) + ONE join — both shuffles are
    sized by the CURRENT edge set, which only shrinks (stars replace
    paths), so at 100 TB every round after the first runs on a
    near-forest, not the corpus:

    - large-star: on the symmetric orientation, every node's
      strictly-larger neighbors re-attach to ``m = min(N(u) ∪ {u})``;
    - small-star: on the (max → min) orientation, every node's smaller
      neighbors (and the node) attach to its minimum neighbor.

    Convergence = edge-set fixpoint, detected with one scalar aggregate
    per round (count + order-insensitive xxhash64 checksum — collision
    would need 2⁻⁶⁴ bad luck AND an equal count; the oracle hash-match
    would still catch it). Lineage is truncated per round with
    ``localCheckpoint`` like the sibling loop.
    """
    from ..tables import persist_replacing

    edges = (
        pairs.where(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = persist_replacing(
        edges.select(F.col("u").alias("node"))
        .union(edges.select("v"))
        .distinct(),
        "pipeline.star_nodes",
    )
    sig = None
    rounds = 0
    for _ in range(STAR_MAX_ITERS):
        rounds += 1
        # large-star on the symmetric view: m(u) = min(neighbors ∪ self)
        sym = edges.union(edges.select(F.col("v"), F.col("u"))).toDF(
            "u", "v"
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"), F.col("m").alias("lo")
            )
        )
        # small-star on the (max → min) orientation of large's output
        d = large.select(
            F.greatest("hi", "lo").alias("u"), F.least("hi", "lo").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m")))
            .distinct()
        )
        new_edges = small.localCheckpoint(eager=False)
        # bit_xor: order-insensitive, overflow-free (ANSI-safe — a sum of
        # hashes overflows int64); edges are distinct so nothing cancels
        chk = new_edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        edges = new_edges
        if (chk["n"], chk["h"]) == sig:
            break
        sig = (chk["n"], chk["h"])
    else:  # pragma: no cover - safety net for pathological graphs
        raise RuntimeError("star contraction did not converge")
    global LAST_STAR_ROUNDS
    LAST_STAR_ROUNDS = rounds
    # fixpoint edges form stars rooted at each component minimum; roots
    # label themselves
    labels = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )
    roots = (
        nodes.join(
            labels.select(F.col("doc_id").alias("node")), "node", "left_anti"
        )
        .select(F.col("node").alias("doc_id"))
        .withColumn("component", F.col("doc_id"))
    )
    return labels.union(roots)


def dedup_clusters_star(t: Tables) -> DataFrame:
    """:func:`dedup_clusters` computed by the OTHER published CC
    algorithm — alternating star contraction
    (:func:`_star_connected_components`) — over the same exact near-dup
    pair source. Same output contract (doc_id → min reachable id), same
    recursive-CTE oracle, labels equality-pinned against the
    pointer-doubling loop in tests. Exists so the clustering result is
    certified by two independent algorithms, and as the variant whose
    per-round shuffles shrink with the contracting edge set (the
    min-label loop's join stays node-sized every round)."""
    return _star_connected_components(
        ngram_jaccard_pairs(t).select("id_a", "id_b")
    )


_RATE_CASE = " ".join(
    f"WHEN '{lang}' THEN {rate}" for lang, rate in SAMPLE_RATES.items()
)

_DEDUP_COMP_DUCK = f"WITH RECURSIVE {_near_dup_components_duck()}"
ORACLE_DEDUP_CLUSTERS = f"{_DEDUP_COMP_DUCK} SELECT node AS doc_id, component FROM comp"

ORACLES: dict[str, str] = {
    "repetition_filter": """
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents
        ),
        pw AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
        m AS (SELECT doc_id,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct,
                     CAST(max(cnt) AS BIGINT) AS top_cnt
              FROM pw GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_distinct,
               round(1 - n_distinct * 1.0 / n_tokens, 4) AS dup_token_ratio,
               round(top_cnt * 1.0 / n_tokens, 4) AS top_token_ratio,
               (round(1 - n_distinct * 1.0 / n_tokens, 4) <= 0.8
                AND round(top_cnt * 1.0 / n_tokens, 4) <= 0.2) AS keep
        FROM m
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang, (doc_id * 1000003 + 12345) % 97 AS bucket
        FROM documents
        WHERE (doc_id * 1000003 + 12345) % 97 <
              (CASE lang {_RATE_CASE} ELSE {SAMPLE_DEFAULT} END)
    """,
    "incremental_exact_dedup": f"""
        SELECT doc_id FROM documents
        WHERE doc_id % {INCR_BATCH_MOD} = 0
          AND md5(text) NOT IN (
            SELECT md5(text) FROM documents
            WHERE doc_id % {INCR_BATCH_MOD} != 0
          )
    """,
    "shard_shuffle_assign": f"""
        WITH k AS (
          SELECT doc_id,
                 ((doc_id % {_SHUF_MOD}) * 1000003 + 12345) % {_SHUF_MOD}
                   AS okey
          FROM documents
        )
        SELECT doc_id,
               CAST(okey % {SHUFFLE_SHARDS} AS INTEGER) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY okey % {SHUFFLE_SHARDS}
                 ORDER BY okey, doc_id
               ) AS INTEGER) AS pos
        FROM k
    """,
    "token_budget_sample": f"""
        WITH d AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens
          FROM documents
        ),
        tot AS (
          SELECT lang,
                 least(97, (97 * {LANG_TOKEN_BUDGET} + sum(n_tokens) - 1)
                             // sum(n_tokens)) AS thresh
          FROM d GROUP BY lang
        )
        SELECT d.doc_id, d.lang, d.n_tokens,
               (d.doc_id * 1000003 + 12345) % 97 AS bucket,
               CAST(tot.thresh AS BIGINT) AS thresh
        FROM d JOIN tot ON d.lang = tot.lang
        WHERE (d.doc_id * 1000003 + 12345) % 97 < tot.thresh
    """,
    "leakage_safe_split": f"""
        WITH h AS (
          SELECT doc_id, source,
                 {fold_hash_duck("source")} % 100 AS bucket
          FROM documents
        )
        SELECT doc_id, source, bucket,
               CASE WHEN bucket < {SPLIT_TRAIN_END} THEN 'train'
                    WHEN bucket < {SPLIT_VAL_END} THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    """,
    "token_pack_bins": f"""
        WITH d AS (
          SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens
          FROM documents
        )
        SELECT doc_id, shard, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER w, 0) AS BIGINT) AS offset,
               CAST(floor(coalesce(sum(n_tokens) OVER w, 0)
                          / {PACK_SEQ_LEN}.0) AS BIGINT) AS bin_id
        FROM d
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
    "heavy_hitter_bigrams": """
        WITH w AS (
          SELECT string_split_regex(trim(text), '\\s+') AS ws FROM documents
        ),
        b AS (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                                       i -> ws[i] || ' ' || ws[i + 1])) AS bigram
          FROM w
        )
        SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram
        ORDER BY cnt DESC, bigram LIMIT 20
    """,
    "regex_scrub": rf"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{SCRUB_PATTERN}')) AS INTEGER)
                 AS n_matches,
               md5(regexp_replace(text, '{SCRUB_PATTERN}', '<TOK>', 'g'))
                 AS scrubbed_md5
        FROM documents
    """,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    # same contract & SQL as dedup_clusters: min reachable id per node —
    # the star-contraction loop must land on the identical labels
    "dedup_clusters_star": ORACLE_DEDUP_CLUSTERS,
    "dedup_canonical_docs": f"""
        {_DEDUP_COMP_DUCK}
        SELECT doc_id FROM documents LEFT JOIN comp ON doc_id = comp.node
        WHERE component IS NULL OR component = doc_id
    """,
    # recomputes the exact clustering's size and expects both claim flags
    # TRUE (MinHash clusters refine — never merge — exact clusters)
    "dedup_clusters_minhash_check": _contract_duck(
        ORACLE_DEDUP_CLUSTERS,
        "refine_ok",
        "covered_ok",
        count="CAST(count(*) AS BIGINT) AS n_exact_docs,"
        " CAST(count(DISTINCT component) AS BIGINT) AS n_exact_components",
    ),
    "dedup_cluster_size_histogram": f"""
        {_DEDUP_COMP_DUCK},
        cs AS (SELECT component, count(*) AS cluster_size
               FROM comp GROUP BY component)
        SELECT cluster_size, count(*) AS n_clusters,
               CAST((cluster_size - 1) * count(*) AS BIGINT) AS docs_removed
        FROM cs GROUP BY cluster_size
    """,
}

QUERIES = {
    "repetition_filter": repetition_filter,
    "stratified_sample": stratified_sample,
    "shard_shuffle_assign": shard_shuffle_assign,
    "incremental_exact_dedup": incremental_exact_dedup,
    "token_budget_sample": token_budget_sample,
    "leakage_safe_split": leakage_safe_split,
    "token_pack_bins": token_pack_bins,
    "heavy_hitter_bigrams": heavy_hitter_bigrams,
    "regex_scrub": regex_scrub,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_minhash": dedup_clusters_minhash,
    "dedup_clusters_minhash_check": dedup_clusters_minhash_check,
    "dedup_canonical_docs": dedup_canonical_docs,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "dedup_clusters_star": dedup_clusters_star,
}
