"""Data-mixing operators for training-corpus construction: importance
resampling toward a target distribution (DSIR) and temperature-scaled
source balancing.

- :func:`dsir_resample` — Data Selection via Importance Resampling
  (Xie et al. 2023, "Data Selection for Language Models via Importance
  Resampling"): hashed-bigram bag-of-ngrams features, per-bucket
  log-likelihood ratios between a *target* slice and the *raw* pool,
  per-document importance scores, and a top-N selection of the raw docs
  that look most like the target. The classic use: select from a 100 TB
  crawl the slice that best matches a curated target corpus.
- :func:`temperature_mix_sample` — temperature-flattened mixing across
  an imbalanced group key (here ``lang``): each group is downsampled at
  rate ``(n_min/n_g)^(1/2)`` (tau = 0.5), the standard move (mT5/XLM-R
  style alpha-sampling) that keeps low-resource groups over-represented
  relative to their raw share. The Bernoulli gate is *exact integer
  arithmetic* — ``h² · n_g < MOD² · n_min`` — so both engines agree
  bit-for-bit with zero float ops.
- :func:`kl_source_divergence` — bucketed per-source KL divergence vs
  the corpus blend: which sources are distributionally far from the mix
  they feed (re-weighting candidates), which are redundant with it.
  Bounded S×64 bucket state regardless of corpus size.
- :func:`epoch_upsample_manifest` — the UP-sampling half of the family:
  data-recipe style multi-epoch repetition of rare sources at rate
  ``sqrt(n_max/n_s)`` (largest source anchored at exactly 1 epoch),
  split into a guaranteed integer floor plus a hash-gated fractional
  epoch, all-integer on the comparison path.

Scale notes (100 TB): DSIR is two corpus scans (one to count bucket
occupancies — B counters per task, map-side combined into a B-row frame —
and one to score) plus a broadcast of the B-row log-ratio table; the
per-doc fold is over that doc's own bigrams only. The top-N is a
``TakeOrderedAndProject`` (per-partition heaps), never a global sort.
Temperature mixing is one tiny per-group count aggregate broadcast back
over a map-only filter. Neither moves corpus-sized data through a
shuffle beyond the one aggregation each.

Determinism contract: the bucket log-ratio is ONE ``ln`` of an exact
integer rational and the per-doc score folds those terms in document
position order on both engines (collect_list → array_sort → aggregate in
Spark; ``list(lr ORDER BY pos)`` → list_reduce in DuckDB), so the only
cross-engine divergence is the ≤1-ulp libm ``ln`` class already accepted
for ``udtf._geomean`` / ``weighted_sample_per_lang``; the emitted score
is floored to millis to keep that class away from the hash. At 100 TB
the integer products inside the rational can exceed 2^53 — production
would switch to the log-difference form and drop the hash-exactness
claim, which is a contract choice, not a plan change.

Reference scope note: the reference project (``/root/reference``,
Task2-4/Client.py) has no data-mixing surface; these extend the engine
for the training-data use case per the build plan (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tables import local_df

from ..functions.text import HASH_MOD, fold_hash, fold_hash_duck, words as _words

Tables = dict[str, DataFrame]

#: hashed-ngram feature buckets (DSIR uses 10k on real corpora; 512 keeps
#: the synthetic vocab from spreading one word over many buckets)
DSIR_BUCKETS = 512

#: the target slice the importance weights point toward
DSIR_TARGET_LANG = "en"

#: how many raw docs the resampling step keeps
DSIR_N = 100

#: gate-grade hash constants: a Bernoulli accept gate needs a UNIFORM
#: u = h/MOD, which the affine char-fold does not give for short keys
#: (nearby ids differ by tiny deltas; measured mean(u) ≈ 0.25 on
#: sequential doc_ids). For integer keys the multiplicative congruential
#: hash h = (id·A + B) mod P is exact in both engines ((id mod P)·A
#: < 10^18 fits BIGINT) and measured decile-uniform on 0..n ids.
GATE_A, GATE_B = 736_338_717, 198_491_317


def _gate_hash(col: str) -> F.Column:
    """Uniform portable hash of a BIGINT column into [0, HASH_MOD)."""
    return F.expr(
        f"(({col} % {HASH_MOD}) * {GATE_A} + {GATE_B}) % {HASH_MOD}"
    )


def _doc_bucket_hits(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, pos, bucket) — one row per bigram occurrence.

    Arrow-batched (mapInPandas) for the same measured reason as
    ``dedup._shingles``: the pure-Catalyst form (posexplode of a
    ``transform``-built bigram array + per-char ``aggregate`` fold) runs
    interpreted per element and dominated the query (~15 s of an sf0.1
    run); the batched form does identical string work in Python with a
    per-batch memo on repeated bigrams. Semantics unchanged and
    oracle-portable: whitespace split of trimmed text, 0-based bigram
    position, affine char fold mod ``HASH_MOD`` into ``DSIR_BUCKETS``.
    """

    def hit_batches(batches):
        import pandas as pd

        mod, nb = HASH_MOD, DSIR_BUCKETS
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, langs, poss, buckets = [], [], [], []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                ws = text.strip().split()
                for i in range(len(ws) - 1):
                    bg = ws[i] + " " + ws[i + 1]
                    b = memo.get(bg)
                    if b is None:
                        a = 7
                        for c in bg:
                            a = (a * 31 + ord(c)) % mod
                        b = memo[bg] = a % nb
                    ids.append(doc_id)
                    langs.append(lang)
                    poss.append(i)
                    buckets.append(b)
            yield pd.DataFrame(
                {"doc_id": ids, "lang": langs, "pos": poss, "bucket": buckets}
            )

    from ..tables import fan_out

    return fan_out(docs.select("doc_id", "lang", "text")).mapInPandas(
        hit_batches, schema="doc_id bigint, lang string, pos int, bucket bigint"
    )


def dsir_resample(t: Tables) -> DataFrame:
    """Top-``DSIR_N`` raw documents by DSIR importance toward the target.

    Pipeline: hashed-bigram occurrences → per-bucket (target, raw)
    counts with add-one smoothing → per-bucket log-likelihood ratio
    ``ln(((t_b+1)·(R+B)) / ((r_b+1)·(T+B)))`` (one ln of an exact
    rational) → per-raw-doc score = position-ordered fold of its
    bigrams' ratios → top-N by score. The B-row ratio table broadcasts;
    the heavy side is scanned twice and shuffled once per aggregate.
    """
    from pyspark.sql import Window

    is_t = F.col("lang") == DSIR_TARGET_LANG
    counts = _doc_bucket_hits(t["documents"]).groupBy("bucket").agg(
        F.sum(is_t.cast("long")).alias("t_b"),
        F.sum((~is_t).cast("long")).alias("r_b"),
    )
    # corpus totals via an unpartitioned window over the B-row counts
    # frame (tiny, post-aggregate) — a separate agg branch would recompute
    # the whole tokenize-and-count subtree for a 1-row result
    w_all = Window.partitionBy()
    lr = counts.select(
        "bucket",
        F.log(
            ((F.col("t_b") + 1) * (F.sum("r_b").over(w_all) + DSIR_BUCKETS))
            / ((F.col("r_b") + 1) * (F.sum("t_b").over(w_all) + DSIR_BUCKETS))
        ).alias("lr"),
    )
    # scoring pass reads only the raw pool: the lang filter sits on the
    # scan side of the second mapInPandas, so it pushes to parquet
    scored = (
        _doc_bucket_hits(t["documents"].where(~is_t))
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.array_sort(F.collect_list(F.struct("pos", "lr"))).alias("parts"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.expr(
                "aggregate(parts, CAST(0.0 AS DOUBLE), (a, x) -> a + x.lr)"
            ).alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(DSIR_N)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.floor(F.col("score") * 1000).cast("long").alias("score_milli"),
        )
    )


def temperature_mix_sample(t: Tables) -> DataFrame:
    """Deterministic temperature-flattened sample across ``lang``.

    Accept doc iff ``h² · n_g < MOD² · n_min`` where h is the uniform
    multiplicative-congruential gate hash of doc_id — algebraically
    ``u < sqrt(n_min/n_g)`` with u = h/MOD, i.e. per-group rate
    ``(n_min/n_g)^tau`` at tau=1/2, with no float anywhere (h² fits a
    BIGINT; the n-scaled products run in DECIMAL(38,0) / HUGEINT). The
    group-count frame is lang-cardinality rows, broadcast; the accept
    test is map-only.
    """
    from pyspark.sql import Window

    d = t["documents"].select(
        "doc_id",
        "lang",
        _gate_hash("doc_id").alias("h"),
    )
    # n_min folded onto the group-count frame with an unpartitioned window
    # (lang-cardinality rows, post-aggregate) instead of a second agg
    # branch that would re-scan documents for one number
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_g"))
        .withColumn("n_min", F.min("n_g").over(Window.partitionBy()))
    )
    return (
        d.join(F.broadcast(counts), "lang")
        .where(
            F.expr(
                "CAST(h * h AS DECIMAL(38,0)) * n_g"
                f" < CAST({HASH_MOD} AS DECIMAL(38,0)) * {HASH_MOD} * n_min"
            )
        )
        .select("doc_id", "lang")
    )


#: KL-divergence histogram width. Bounded-width bucketing is what makes
#: the statistic scale-true: per-source state is KL_BUCKETS counters no
#: matter the corpus size (the same sketch-not-vocab argument as the CMS),
#: and the final fold is a fixed 64 terms so the PSI-style ordered-fold
#: determinism contract holds.
KL_BUCKETS = 64


def kl_source_divergence(t: Tables) -> DataFrame:
    """Per-source token-distribution KL divergence vs the whole corpus —
    the data-mixing diagnostic next to :func:`dsir_resample`: which
    sources are distributionally far from the blend they feed (candidates
    for re-weighting), which are redundant with it.

    Statistic: unigram occurrences hashed into ``KL_BUCKETS`` buckets
    (portable affine fold, hashed once per DISTINCT (source, word), not
    per occurrence — the ``cms_bigram_check`` trick); per source s,
    ``KL(P_s || Q)`` with add-one smoothing over the bucket grid, where Q
    is the full-corpus bucket distribution. Each term's log is ONE ``ln``
    of an exact integer rational and the 64 terms fold in bucket order
    (array_sort→aggregate / ``list(... ORDER BY)``), so cross-engine
    divergence is the accepted ≤1-ulp libm class; the emitted value is
    floored to micro-nats to keep it away from the hash.

    Plan: one documents scan → explode words → (source, word) count
    [the only corpus-sized shuffle, map-side combined] → per-row hash →
    (source, bucket) sums [S×64 rows] → dense grid completion (sources ×
    sequence(0..63), both tiny) → window totals → ordered fold. Missing
    (source, bucket) cells are materialized as zero-count rows because
    add-one smoothing gives them non-zero mass — dropping them would
    understate the divergence.

    Same 2^53 caveat as the module determinism contract: at extreme
    corpus sizes the integer products inside the ln rational overflow
    BIGINT (~1e13 tokens); production would switch to the log-difference
    form and drop the hash-exactness claim.
    """
    from pyspark.sql import Window

    toks = t["documents"].select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    sb = (
        sw.select("source", (fold_hash("w") % KL_BUCKETS).alias("bucket"), "c")
        .groupBy("source", "bucket")
        .agg(F.sum("c").alias("c_sb"))
    )
    # the source list comes from a single-column scan of documents (column
    # pruning reaches parquet), NOT from sb — deriving it from sb would
    # recompute the whole tokenize+count subtree a second time just to
    # list ~20 strings. Equivalent: split() emits ≥1 token per doc, so
    # every source present in documents is present in sb.
    grid = (
        t["documents"]
        .select("source")
        .distinct()
        .crossJoin(
            sb.sparkSession.range(KL_BUCKETS).select(
                F.col("id").alias("bucket")
            )
        )
        .join(sb, ["source", "bucket"], "left")
        .select("source", "bucket", F.coalesce("c_sb", F.lit(0)).alias("c_sb"))
    )
    w_src = Window.partitionBy("source")
    w_bkt = Window.partitionBy("bucket")
    w_all = Window.partitionBy()
    full = grid.select(
        "source",
        "bucket",
        "c_sb",
        F.sum("c_sb").over(w_src).alias("n_s"),
        F.sum("c_sb").over(w_bkt).alias("c_b"),
        F.sum("c_sb").over(w_all).alias("n_tot"),
    )
    terms = full.select(
        "source",
        "bucket",
        "n_s",
        (
            ((F.col("c_sb") + 1) / (F.col("n_s") + KL_BUCKETS))
            * F.log(
                ((F.col("c_sb") + 1) * (F.col("n_tot") + KL_BUCKETS))
                / ((F.col("c_b") + 1) * (F.col("n_s") + KL_BUCKETS))
            )
        ).alias("term"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.array_sort(F.collect_list(F.struct("bucket", "term"))).alias(
                "parts"
            ),
        )
        .select(
            "source",
            "n_tokens",
            F.expr(
                "CAST(floor(1000000 * aggregate(parts, CAST(0.0 AS DOUBLE),"
                " (a, x) -> a + x.term)) AS BIGINT)"
            ).alias("kl_micro"),
        )
    )


def epoch_upsample_manifest(t: Tables) -> DataFrame:
    """Deterministic epoch-upsampling manifest per document — the
    UP-sampling half of the mixing family (:func:`temperature_mix_sample`
    flattens by dropping from over-represented groups; real data recipes
    instead repeat curated/rare sources for >1 epoch while the largest
    source runs a single epoch).

    Target: per-source repeat rate ``r_s = sqrt(n_max / n_s)`` (the same
    tau=1/2 flattening as the downsampler, anchored so the LARGEST source
    gets exactly 1 epoch). Each doc receives ``floor(r_s)`` guaranteed
    epochs plus one more with probability ``frac(r_s)``, decided by the
    uniform gate hash — so per-source expected epochs equal ``n_s · r_s``
    and the output is bit-reproducible.

    All-integer arithmetic, no float sqrt on the comparison path:
    ``f = floor(sqrt(n_max/n_s))`` is seeded by one double sqrt and then
    corrected against the exact integer inequality ``f²·n_s ≤ n_max <
    (f+1)²·n_s`` (a ±1 fix-up, so the double seed only needs to be within
    1 — far beyond IEEE guarantees); the fractional gate ``u+f < r_s``
    squares to ``(h + f·MOD)²·n_s < n_max·MOD²``, run in DECIMAL(38,0) /
    HUGEINT. Cross-engine hash-exact with zero accepted-divergence class.

    Plan shape: one per-source count aggregate (map-side combined,
    |sources| rows) with the max folded on by an unpartitioned window over
    that tiny frame, broadcast back over a map-only epoch computation —
    the same one-aggregate-one-broadcast shape as the downsampler, safe at
    any corpus size.
    """
    from pyspark.sql import Window

    d = t["documents"].select(
        "doc_id", "source", _gate_hash("doc_id").alias("h")
    )
    counts = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .withColumn("n_max", F.max("n_s").over(Window.partitionBy()))
    )
    rates = (
        counts.withColumn(
            "f0",
            F.expr("CAST(floor(sqrt(CAST(n_max AS DOUBLE) / n_s)) AS BIGINT)"),
        )
        .select(
            "source",
            "n_s",
            "n_max",
            F.expr(
                "CASE WHEN f0 * f0 * n_s > n_max THEN f0 - 1"
                " WHEN (f0 + 1) * (f0 + 1) * n_s <= n_max THEN f0 + 1"
                " ELSE f0 END"
            ).alias("f"),
        )
    )
    extra = F.expr(
        "CASE WHEN CAST(h + f * {mod} AS DECIMAL(38,0)) * (h + f * {mod}) * n_s"
        " < CAST({mod} AS DECIMAL(38,0)) * {mod} * n_max"
        " THEN 1 ELSE 0 END".format(mod=HASH_MOD)
    )
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            (F.col("f") + extra).cast("long").alias("n_epochs"),
        )
    )


#: DoReMi-style reweighting knobs. The decimal strings are formatted into
#: BOTH engines verbatim so the parsed doubles are bit-identical.
DOREMI_ITERS = 8
DOREMI_ETA = "0.5"  # step size per nat of excess loss
DOREMI_SMOOTH = "0.1"  # uniform-mixing coefficient (Group DRO smoothing)


def doremi_mixture_weights(t: Tables) -> DataFrame:
    """DoReMi-style domain reweighting: multiplicative-weights iterations
    over per-source excess language-model loss (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining" — the
    Group-DRO weight update, with the proxy-model loss replaced by a
    corpus-trained unigram NLL).

    Output: ``source``, ``n_tokens``, ``loss_micro`` (mean token NLL in
    micro-nats under the corpus unigram MLE), ``weight_micro`` = final
    mixture weight ``floor(1e6·α)``. Sources whose text reads least like
    the corpus blend (highest excess loss) are up-weighted — the
    hard-domain emphasis Group DRO provides — while the uniform-mixing
    term keeps every domain sampled.

    Update rule per iteration (``DOREMI_ITERS`` rounds, linearized
    multiplicative weights): ``u_s = α_s·(1 + η·excess_s)``, then
    ``α ← (1−c)·u/Σu + c/S``. The linear update is the classic
    Freund–Schapire Hedge linearization; unlike ``exp`` it involves only
    +,·,/ — IEEE-exact, correctly-rounded ops — so the loop is
    bit-identical across engines.

    Scale (100 TB): ONE corpus scan feeds the (source, word) count table
    (map-side combined; vocabulary-bounded), the unigram model is the
    word-count marginal of that same table, and the per-source NLL fold
    is vocabulary-sized. The weight loop runs on the S-row per-source
    table (DoReMi itself uses ~22 domains) — collected to the driver the
    same way :func:`lm.bpe_learn_merges` collects its capped vocabulary:
    iterating an S-row fixpoint as S Spark jobs would be the wrong plan.

    Determinism: each NLL term is ONE ``ln`` of an exact integer rational
    folded in word order (the accepted ≤1-ulp libm class), quarantined
    behind the micro-nat floor BEFORE the loop; everything after
    ``loss_micro`` is integer-seeded IEEE arithmetic mirrored
    op-for-op in the oracle — bit-exact.
    """
    import math

    spark = t["documents"].sparkSession
    g = (
        t["documents"]
        .select("source", F.explode(_words("text")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count("*").alias("m"))
    )
    cw = g.groupBy("w").agg(F.sum("m").alias("c_w"))
    tot = g.agg(F.sum("m").alias("n_tot"))
    terms = (
        g.join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "m",
            (-F.col("m") * F.log(F.col("c_w") / F.col("n_tot"))).alias("term"),
        )
    )
    loss = (
        terms.groupBy("source")
        .agg(
            F.sum("m").alias("n_tokens"),
            F.array_sort(F.collect_list(F.struct("w", "term"))).alias("parts"),
        )
        .select(
            "source",
            "n_tokens",
            F.floor(
                1000000
                * F.expr(
                    "aggregate(parts, CAST(0.0 AS DOUBLE), (a, x) -> a + x.term)"
                )
                / F.col("n_tokens")
            )
            .cast("long")
            .alias("loss_micro"),
        )
    )
    rows = sorted(
        (r["source"], r["n_tokens"], r["loss_micro"]) for r in loss.collect()
    )
    s_cnt = len(rows)
    min_loss = min(r[2] for r in rows)
    eta, c = float(DOREMI_ETA), float(DOREMI_SMOOTH)
    excess = {src: (lm - min_loss) / 1000000.0 for src, _, lm in rows}
    alpha = {src: 1.0 / s_cnt for src, _, _ in rows}
    for _ in range(DOREMI_ITERS):
        u = {src: alpha[src] * (1.0 + eta * excess[src]) for src, _, _ in rows}
        z = 0.0
        for src, _, _ in rows:  # rows is source-sorted: fold order pinned
            z = z + u[src]
        alpha = {src: (1.0 - c) * (u[src] / z) + c / s_cnt for src, _, _ in rows}
    return local_df(
        spark,
        [
            (src, n_tok, lm, math.floor(1000000 * alpha[src]))
            for src, n_tok, lm in rows
        ],
        "source string, n_tokens long, loss_micro long, weight_micro long",
    )


def _doremi_oracle_sql(n_iters: int) -> str:
    """DuckDB twin of :func:`doremi_mixture_weights`: the same word-order
    NLL fold, then ``n_iters`` unrolled multiplicative-weight rounds with
    the source-order normalization fold mirrored via ``list_reduce``."""
    eta, c = DOREMI_ETA, DOREMI_SMOOTH
    parts = [
        r"""
        WITH g AS MATERIALIZED (
          SELECT source, w, count(*) AS m FROM (
            SELECT source,
                   unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents
          ) WHERE length(w) > 0 GROUP BY source, w
        ),
        cw AS (SELECT w, sum(m) AS c_w FROM g GROUP BY w),
        tot AS (SELECT sum(m) AS n_tot FROM g),
        terms AS (
          SELECT g.source, g.w, g.m,
                 -g.m * ln(cw.c_w / tot.n_tot) AS term
          FROM g JOIN cw USING (w) CROSS JOIN tot
        ),
        loss AS MATERIALIZED (
          SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
                 CAST(floor(1000000 * list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                                     list(term ORDER BY w)),
                        (a, b) -> a + b) / sum(m)) AS BIGINT) AS loss_micro
          FROM terms GROUP BY source
        ),
        scnt AS (SELECT count(*) AS s_cnt FROM loss),
        ex AS MATERIALIZED (
          SELECT source, n_tokens, loss_micro,
                 (loss_micro - (SELECT min(loss_micro) FROM loss))
                   / 1000000.0 AS excess
          FROM loss
        ),
        i0 AS (SELECT source, 1.0 / (SELECT s_cnt FROM scnt) AS s FROM ex)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""
        , u{k} AS MATERIALIZED (
          SELECT e.source, i.s * (1.0 + {eta} * e.excess) AS u
          FROM ex e JOIN i{k - 1} i USING (source)
        ),
        z{k} AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                          list(u ORDER BY source)),
                             (a, b) -> a + b) AS z
          FROM u{k}
        ),
        i{k} AS MATERIALIZED (
          SELECT source,
                 (1.0 - {c}) * (u / (SELECT z FROM z{k}))
                   + {c} / (SELECT s_cnt FROM scnt) AS s
          FROM u{k}
        )"""
        )
    parts.append(
        f"""
        SELECT e.source, e.n_tokens, e.loss_micro,
               CAST(floor(1000000 * i.s) AS BIGINT) AS weight_micro
        FROM ex e JOIN i{n_iters} i USING (source)"""
    )
    return "".join(parts)


#: water-filling: budget = this fraction (numerator/denominator) of the
#: corpus token mass, so the allocator is meaningfully constrained at any
#: scale factor (some sources saturate, some don't)
WF_BUDGET_NUM = 1
WF_BUDGET_DEN = 2


def token_budget_waterfill(t: Tables) -> DataFrame:
    """Water-filling token-budget allocator across sources — the mixing
    step that answers "given a total training budget of B tokens, how
    many come from each source?" under sqrt prioritization (rare sources
    get MORE than proportional share) with per-source availability caps.

    Math: allocation ``a_s = min(cap_s, ⌊w_s·λ⌋)`` with ``cap_s`` =
    source token mass, ``w_s = ⌊√cap_s⌋`` (the sqrt-mixing weight; IEEE
    sqrt is correctly rounded, so both engines floor the same double) and
    the water level λ chosen so the budget is met: sort sources by
    ``cap/w`` ascending, the saturated set is the maximal prefix where
    ``w_k·(B − cumcap_{k−1}) ≥ cap_k·(W − cumw_{k−1})`` (integer
    cross-multiplication — no float λ anywhere), and unsaturated sources
    get ``w_s·(B − cap(sat)) DIV w(unsat)``.

    Scale shape: ONE corpus scan reduces to per-source (cap, w) rows;
    everything after is windows over the |sources|-row frame. The same
    plan at 100 TB allocates across thousands of domains from one
    map-combined aggregation.
    """
    from ..functions.text import words

    src = (
        t["documents"]
        .groupBy("source")
        .agg(F.sum(F.size(words("text")).cast("long")).alias("cap"))
        .select("source", "cap", F.floor(F.sqrt("cap")).cast("long").alias("w"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_ord = Window.orderBy(F.expr("cap * 1.0 / w"), "source")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    ranked = src.select(
        "source",
        "cap",
        "w",
        F.sum("cap").over(w_all).alias("cap_total"),
        F.sum("w").over(w_all).alias("w_total"),
        F.coalesce(F.sum("cap").over(w_prev), F.lit(0)).alias("cumcap"),
        F.coalesce(F.sum("w").over(w_prev), F.lit(0)).alias("cumw"),
    ).withColumn(
        "budget",
        F.expr(f"cap_total * {WF_BUDGET_NUM} DIV {WF_BUDGET_DEN}"),
    ).withColumn(
        "saturated",
        F.expr("w * (budget - cumcap) >= cap * (w_total - cumw)"),
    )
    lam = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ranked.withColumn(
            "lam_num",
            F.col("budget")
            - F.sum(F.when(F.col("saturated"), F.col("cap")).otherwise(0)).over(lam),
        )
        .withColumn(
            "lam_den",
            F.sum(F.when(~F.col("saturated"), F.col("w")).otherwise(0)).over(lam),
        )
        .select(
            "source",
            F.col("cap").alias("cap_tokens"),
            F.col("w").alias("weight"),
            "saturated",
            F.when(F.col("saturated"), F.col("cap"))
            .otherwise(F.expr("w * lam_num DIV lam_den"))
            .alias("alloc_tokens"),
        )
    )


QUERIES = {
    "dsir_resample": dsir_resample,
    "temperature_mix_sample": temperature_mix_sample,
    "kl_source_divergence": kl_source_divergence,
    "epoch_upsample_manifest": epoch_upsample_manifest,
    "doremi_mixture_weights": doremi_mixture_weights,
    "token_budget_waterfill": token_budget_waterfill,
}

ORACLES: dict[str, str] = {
    "dsir_resample": f"""
        WITH toks AS (
          SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tk
          FROM documents
        ),
        idx AS (
          SELECT doc_id, lang, tk,
                 unnest(range(len(tk) - 1)) AS i
          FROM toks
        ),
        bg AS (
          SELECT doc_id, lang, CAST(i AS INT) AS pos,
                 {fold_hash_duck("tk[CAST(i + 1 AS INT)] || ' ' || tk[CAST(i + 2 AS INT)]")}
                   % {DSIR_BUCKETS} AS bucket
          FROM idx
        ),
        cnt AS (
          SELECT bucket,
                 sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS t_b,
                 sum(CASE WHEN lang != '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS r_b
          FROM bg GROUP BY bucket
        ),
        tot AS (SELECT sum(t_b) AS t_tot, sum(r_b) AS r_tot FROM cnt),
        lr AS (
          SELECT bucket,
                 ln(((t_b + 1) * (r_tot + {DSIR_BUCKETS}))
                    / ((r_b + 1) * (t_tot + {DSIR_BUCKETS}))) AS lr
          FROM cnt, tot
        ),
        sc AS (
          SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
                 list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE), list(lr ORDER BY pos)),
                   (a, b) -> a + b) AS score
          FROM bg JOIN lr USING (bucket)
          WHERE lang != '{DSIR_TARGET_LANG}'
          GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_bigrams,
               CAST(floor(score * 1000) AS BIGINT) AS score_milli
        FROM sc
        ORDER BY score DESC, doc_id
        LIMIT {DSIR_N}
    """,
    "kl_source_divergence": f"""
        WITH toks AS (
          SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents
        ),
        sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY source, w),
        sb AS (
          SELECT source, {fold_hash_duck("w")} % {KL_BUCKETS} AS bucket,
                 sum(c) AS c_sb
          FROM sw GROUP BY 1, 2
        ),
        grid AS (
          SELECT s.source, b.bucket, coalesce(sb.c_sb, 0) AS c_sb
          FROM (SELECT DISTINCT source FROM sb) s
          CROSS JOIN (SELECT unnest(range({KL_BUCKETS})) AS bucket) b
          LEFT JOIN sb ON sb.source = s.source AND sb.bucket = b.bucket
        ),
        fullgrid AS (
          SELECT source, bucket, c_sb,
                 sum(c_sb) OVER (PARTITION BY source) AS n_s,
                 sum(c_sb) OVER (PARTITION BY bucket) AS c_b,
                 sum(c_sb) OVER () AS n_tot
          FROM grid
        ),
        terms AS (
          SELECT source, bucket, n_s,
                 ((c_sb + 1) / (n_s + {KL_BUCKETS}))
                 * ln(((c_sb + 1) * (n_tot + {KL_BUCKETS}))
                      / ((c_b + 1) * (n_s + {KL_BUCKETS}))) AS term
          FROM fullgrid
        )
        SELECT source,
               CAST(max(n_s) AS BIGINT) AS n_tokens,
               CAST(floor(1000000 * list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY bucket)),
                 (a, b) -> a + b)) AS BIGINT) AS kl_micro
        FROM terms GROUP BY source
    """,
    "temperature_mix_sample": f"""
        WITH d AS (
          SELECT doc_id, lang,
                 ((doc_id % {HASH_MOD}) * {GATE_A} + {GATE_B})
                   % {HASH_MOD} AS h
          FROM documents
        ),
        g AS (SELECT lang, count(*) AS n_g FROM d GROUP BY lang),
        m AS (SELECT min(n_g) AS n_min FROM g)
        SELECT doc_id, lang
        FROM d JOIN g USING (lang), m
        WHERE CAST(h AS HUGEINT) * h * n_g
              < CAST({HASH_MOD} AS HUGEINT) * {HASH_MOD} * n_min
    """,
    "epoch_upsample_manifest": f"""
        WITH d AS (
          SELECT doc_id, source,
                 ((doc_id % {HASH_MOD}) * {GATE_A} + {GATE_B})
                   % {HASH_MOD} AS h
          FROM documents
        ),
        g AS (SELECT source, count(*) AS n_s FROM d GROUP BY source),
        m AS (SELECT max(n_s) AS n_max FROM g),
        f0 AS (
          SELECT source, n_s, n_max,
                 CAST(floor(sqrt(CAST(n_max AS DOUBLE) / n_s)) AS BIGINT)
                   AS f0
          FROM g, m
        ),
        fx AS (
          SELECT source, n_s, n_max,
                 CASE WHEN f0 * f0 * n_s > n_max THEN f0 - 1
                      WHEN (f0 + 1) * (f0 + 1) * n_s <= n_max THEN f0 + 1
                      ELSE f0 END AS f
          FROM f0
        )
        SELECT doc_id, source,
               CAST(f + CASE WHEN CAST(h + f * {HASH_MOD} AS HUGEINT)
                                  * (h + f * {HASH_MOD}) * n_s
                                < CAST({HASH_MOD} AS HUGEINT)
                                  * {HASH_MOD} * n_max
                        THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
        FROM d JOIN fx USING (source)
    """,
}

ORACLES["doremi_mixture_weights"] = _doremi_oracle_sql(DOREMI_ITERS)

ORACLES["token_budget_waterfill"] = f"""
    WITH src AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                  AS BIGINT) AS cap
      FROM documents GROUP BY source
    ),
    sw AS (
      SELECT source, cap, CAST(floor(sqrt(cap)) AS BIGINT) AS w FROM src
    ),
    r AS (
      SELECT source, cap, w,
             CAST(sum(cap) OVER () AS BIGINT) AS cap_total,
             CAST(sum(w) OVER () AS BIGINT) AS w_total,
             CAST(coalesce(sum(cap) OVER (
               ORDER BY cap * 1.0 / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumcap,
             CAST(coalesce(sum(w) OVER (
               ORDER BY cap * 1.0 / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumw
      FROM sw
    ),
    s AS (
      SELECT *,
             cap_total * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} AS budget,
             w * (cap_total * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} - cumcap)
               >= cap * (w_total - cumw) AS saturated
      FROM r
    ),
    l AS (
      SELECT *,
             budget - CAST(sum(CASE WHEN saturated THEN cap ELSE 0 END)
                           OVER () AS BIGINT) AS lam_num,
             CAST(sum(CASE WHEN saturated THEN 0 ELSE w END) OVER ()
                  AS BIGINT) AS lam_den
      FROM s
    )
    SELECT source, cap AS cap_tokens, w AS weight, saturated,
           CAST(CASE WHEN saturated THEN cap
                     ELSE w * lam_num // lam_den END AS BIGINT)
             AS alloc_tokens
    FROM l
"""
