"""Deduplication over the ``documents`` table — exact and near-dup.

The training-data-pipeline dedup ladder:

- :func:`exact_dedup` / :func:`dedup_keep_first` — hash-groupBy exact dedup.
  One shuffle on the text hash; at 100 TB group on ``md5(text)`` (fixed
  width) rather than the raw text to keep shuffle rows small.
- :func:`ngram_jaccard_pairs` — exact word-3-gram Jaccard pairs from the
  capped inverted index (hot shingles dropped at ``AUTO_DF_CAP``, mirrored
  in the oracle); :func:`containment_pairs` is Broder max-containment over
  the same index.
- :func:`minhash_lsh_pairs` — MinHash+LSH: k=32 minhashes from one xxhash64
  pass, banded 8×4; band-bucket candidates *verified* with exact Jaccard,
  so precision is exact and only recall is approximate (the 100 TB path:
  per-bucket, not per-shingle, quadratic). :func:`containment_pairs_banded`
  rescores the same candidates with exact containment.
- :func:`simhash_near_dup_pairs` — pigeonhole-banded hamming pairs over
  :func:`simhash_fingerprints` (Manku/Jain/Das Sarma WWW'07): recall 1.0 by
  construction, asserted as data by :func:`simhash_band_check`.
- Name ER (:func:`name_near_dup_pairs`, :func:`er_candidate_pairs` and the
  scoring/cluster layers above them) — token blocks with one refinement
  level, plus a sorted-neighborhood scan.

Every pair builder runs on one candidate-pair core:

- :func:`_posting` — ``groupBy(key).agg(array_sort(collect_list(member)))``:
  the sorted member list ``ds`` per key (shingle hash, band key, ER block,
  simhash band / sub-band).
- :func:`_posting_pairs` — the capped C(k, 2) explode of those lists: lists
  with 2 ≤ k ≤ cap become their ordered pairs, so a hot key is dropped,
  never exploded quadratically inside one task (``AUTO_DF_CAP``,
  ``BAND_BUCKET_CAP``, ``ER_BLOCK_CAP``). Over-cap ER blocks and simhash
  buckets are re-keyed once before their cap applies.
- :func:`_shingle_commons` — the capped inverted index: ``common`` per doc
  pair plus both exact set sizes (ngram, containment, threshold sweep).
- :func:`_band_keys` — the cached shingles and their checkpointed MinHash
  band keys (minhash, incremental ingest, banded containment).
- :func:`_rescored` — candidates joined to both shingle arrays and rescored
  exactly (:func:`_verify_jaccard`, banded containment; both containment
  ops project :func:`_containment_cols`).
- :func:`_overlap_counts` — the one exact-vs-approximate comparison the
  subset/recall/completeness checks project their flags from.

Oracle policy: exact ops have DuckDB oracles; MinHash/SimHash depend on
xxhash64 (not reproducible in DuckDB) → rows-only driver check, with
subset/equivalence assertions against the exact pairs in tests/ and as
data in the ``*_check`` queries.

The DuckDB reference rules are each written once, and the oracles here
and in ``pipeline``, ``campaign``, ``analytics3`` and ``similarity``
compose them:

- :func:`_shingle_duck` — the word-shingle CTE chain over any
  ``(doc_id, text)`` relation, down to the capped / uncapped ``common``
  counts ``p`` / ``pu``.
- :func:`_scores_duck` and :func:`_jaccard_pairs_duck` — the exact
  Jaccard and containment scores of a pair relation, and the exact
  near-duplicate set at ``JACCARD_THRESHOLD``.
- :func:`_components_duck` — min-label connected components (recursive
  ``reach``); :func:`_near_dup_components_duck` clusters a corpus with it.
- :func:`_contract_duck` — a contract check's oracle row: its exact
  twin's SQL counted, every claim flag TRUE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tables import local_df

Tables = dict[str, DataFrame]


def _overlap_counts(exact: DataFrame, approx: DataFrame, keys: list[str]) -> DataFrame:
    """The shape every exact-vs-approximate contract check shares: one
    full-outer join of the two key sets (each side computed once) and one
    row of counts — ``n_exact`` and ``n_approx`` (rows per side),
    ``n_hit`` (approximate rows also in the exact set) and ``n_outside``
    (approximate rows missing from it). Each check then projects its own
    flags from these, e.g. with :func:`_pct_ok`."""
    j = exact.select(*keys, F.lit(1).alias("_in_exact")).join(
        approx.select(*keys, F.lit(1).alias("_in_approx")), keys, "full_outer"
    )
    in_exact = F.col("_in_exact").isNotNull()
    return j.agg(
        F.count("_in_exact").alias("n_exact"),
        F.count("_in_approx").alias("n_approx"),
        F.count(F.when(in_exact, F.col("_in_approx"))).alias("n_hit"),
        F.count(F.when(~in_exact, F.col("_in_approx"))).alias("n_outside"),
    )


def _pct_ok(part: str, whole: str, pct: int) -> F.Column:
    """``100·part ≥ pct·whole`` over two count columns: true when
    ``part`` reaches ``pct`` percent of ``whole`` (so also when both are
    0)."""
    return F.lit(100) * F.col(part) >= F.lit(pct) * F.col(whole)


def _recall_contract(
    exact: DataFrame, approx: DataFrame, pct: int, count: str = "n_exact"
) -> DataFrame:
    """The recall contract of an approximate (id_a, id_b) pair set: one
    row with the exact pair count (named ``count``), ``subset_ok``
    (nothing outside the exact set) and ``recall_ok`` (≥ ``pct``% of the
    exact set found)."""
    return _overlap_counts(exact, approx, ["id_a", "id_b"]).select(
        F.col("n_exact").alias(count),
        (F.col("n_outside") == 0).alias("subset_ok"),
        _pct_ok("n_hit", "n_exact", pct).alias("recall_ok"),
    )


JACCARD_THRESHOLD = 0.3
SHINGLE_WORDS = 3

# MinHash parameters: k independent affine rehashes of one base hash.
MINHASH_K = 32
MINHASH_BANDS = 8  # 8 bands × 4 rows
# Mersenne prime 2^31-1: keeps a*h+b < 2^62 so the affine rehash can't
# overflow int64 under ANSI mode.
_MERSENNE = (1 << 31) - 1


def _minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (LCG-generated, no RNG imports)."""
    out, state = [], 987654321
    for _ in range(k):
        state = (1103515245 * state + 12345) % (2**31)
        a = state | 1
        state = (1103515245 * state + 12345) % (2**31)
        b = state
        out.append((a, b))
    return out


def _shingles(df: DataFrame) -> DataFrame:
    """doc_id + distinct word-3-gram shingles, Arrow-batched.

    Measured: the pure-Catalyst form (``array_distinct(transform(sequence,
    i -> concat_ws(ws[i..i+2])))``) evaluates interpreted per element and was
    the dominant cost of every shingle-based operator (~8s of a 20s query at
    sf0.1); the mapInPandas shingler does the same string work batched in
    Python at a fraction of the cost. Semantics identical: whitespace-split
    of trimmed text, first-occurrence-ordered distinct 3-grams, docs with
    fewer than 3 tokens (NULL text has none) dropped. A batch that keeps
    no document yields nothing: an empty pandas frame has untyped columns,
    which Arrow cannot convert to ``array<string>``.
    """

    def shingle_batches(batches):
        import pandas as pd

        for pdf in batches:
            out_ids, out_sh = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws = (text or "").split()
                if len(ws) < SHINGLE_WORDS:
                    continue
                grams = dict.fromkeys(
                    " ".join(ws[i : i + SHINGLE_WORDS])
                    for i in range(len(ws) - SHINGLE_WORDS + 1)
                )
                out_ids.append(doc_id)
                out_sh.append(list(grams))
            if out_ids:
                yield pd.DataFrame({"doc_id": out_ids, "shingles": out_sh})

    from ..tables import fan_out

    return fan_out(df.select("doc_id", "text")).mapInPandas(
        shingle_batches, schema="doc_id bigint, shingles array<string>"
    )


def _doc_shingles_cached(t: Tables) -> DataFrame:
    """The shared shingle frame behind the dedup ladder, filled on
    placement: every consumer branches it at least twice (posting build +
    size sides, or signatures + exact-verify sides). Callers whose first
    consumer is an eager localCheckpoint (the minhash/banded paths) take
    the ``doc_shingles`` slot without the fill — the checkpoint already
    serializes the build, so the count would be a pure extra job
    (measured +0.2 s on minhash_lsh_pairs)."""
    from ..tables import persist_replacing

    return persist_replacing(_shingles(t["documents"]), "doc_shingles", fill=True)


def _exploded_shingles(df: DataFrame) -> DataFrame:
    return _shingles(df).select("doc_id", F.explode("shingles").alias("sh"))


#: the struct fields of a plain doc-id pair, for :func:`_posting_pairs`
_ID_PAIR = "x AS id_a, y AS id_b"


def _posting(keyed: DataFrame, member: str | Column, *key: str) -> DataFrame:
    """``*key, ds``: each key's sorted ``member`` list, from ONE groupBy."""
    return keyed.groupBy(*key).agg(
        F.array_sort(F.collect_list(member)).alias("ds")
    )


def _posting_pairs(posting: DataFrame, pair: str, cap: int | None) -> DataFrame:
    """The capped C(k, 2) explode of a :func:`_posting` frame: lists with
    2 ≤ k ≤ ``cap`` (no upper bound when ``cap`` is None) explode into
    their ordered pairs, each projected as ``struct(pair)`` over the
    members ``x`` (earlier) and ``y`` (later) — pure Catalyst
    ``transform``/``slice``. An over-cap list is dropped, so one hot key
    bounds a task at C(cap, 2) pairs instead of exploding quadratically."""
    ok = F.size("ds") >= 2
    if cap is not None:
        ok = ok & (F.size("ds") <= cap)
    return (
        posting.where(ok)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    f"y -> struct({pair}))))"
                )
            ).alias("p")
        )
        .select("p.*")
    )


def _shingle_commons(sh: DataFrame, cap: int | str | None) -> DataFrame:
    """The capped inverted index over a ``(doc_id, shingles)`` frame:
    ``id_a, id_b, common, n_a, n_b`` per doc pair sharing a shingle.

    ONE groupBy on xxhash64(shingle) (an 8-byte shuffle key instead of a
    ~20-char string) builds each shingle's posting list; its document
    frequency is ``size(ds)`` because shingles are per-doc distinct
    (:func:`_shingles`), and the df cap (``"auto"`` = ``AUTO_DF_CAP``,
    None = uncapped) is applied in the explode. Counting per pair gives
    ``common`` (map-side partial agg shrinks the shuffle); set sizes stay
    exact, so a biting cap only under-counts ``common``. The size joins
    carry one row per document — corpus-sized at 100 TB — so they are
    UNHINTED (VERDICT r9 §1: a forced broadcast of this frame cannot
    build at scale); AQE broadcasts when the runtime size is small."""
    if cap == "auto":
        cap = AUTO_DF_CAP
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    e = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("shh")
    )
    pairs = _posting_pairs(_posting(e, "doc_id", "shh"), _ID_PAIR, cap)
    common = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("common"))
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return common.join(na, "id_a").join(nb, "id_b")


def _band_keys(t: Tables) -> tuple[DataFrame, DataFrame]:
    """The ``doc_shingles`` slot and its MinHash band keys ``(doc_id, bk)``.

    The slot is taken WITHOUT the fill (unlike :func:`_doc_shingles_cached`):
    the eager localCheckpoint of the band keys already serializes the
    shingle build, so a fill count would be a pure extra job (measured
    +0.2 s on minhash_lsh_pairs). The checkpoint sits before the bucket
    aggregate so consumers that branch the candidates do not recompute
    the signature pipeline per branch. The fill asymmetry is load-bearing
    beyond cost: ``perfbench/suites.py`` requires a Python exec node in
    every suite query, and dedup_cluster_size_histogram's only one is the
    fill count a later :func:`_doc_shingles_cached` call runs on the slot
    placed here unfilled (ROADMAP direction 2)."""
    from ..tables import persist_replacing

    sh = persist_replacing(_shingles(t["documents"]), "doc_shingles")
    return sh, _banded(_signatures_from_shingles(sh)).localCheckpoint()


def _rescored(
    cands: DataFrame, sh: DataFrame, left: str, right: str, cols
) -> DataFrame:
    """Exact rescoring of candidate pairs, cost ∝ candidates: join each
    pair to its two shingle *arrays* (the cached frame) and project
    ``left, right, *cols(common, n_a, n_b)`` over the exact intersection
    and set sizes — no quadratic shingle self-join."""
    sa = sh.select(F.col("doc_id").alias(left), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias(right), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, left)
        .join(sb, right)
        .select(left, right, *cols(common, F.size("sh_a"), F.size("sh_b")))
    )


def exact_dedup(t: Tables) -> DataFrame:
    """Exact duplicate groups: one row per distinct text."""
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def dedup_keep_first(t: Tables) -> DataFrame:
    """Surviving doc ids after exact dedup (min doc_id per text)."""
    return (
        t["documents"]
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


#: hot-block ceiling for the ER equality-blocking candidate builders —
#: same reasoning as :data:`BAND_BUCKET_CAP`, but token blocks get ONE
#: refinement pass before anything is dropped: the block key space is a
#: token VOCABULARY (tiny — TPC-H part names draw the second token from
#: ~92 colors), so at corpus scale every block overflows a fixed cap on a
#: perfectly benign corpus (the failure mode ADVICE r10 flagged for the
#: 16-bit SimHash bands). Over-cap blocks are therefore re-keyed by
#: (second token, FIRST token) — Hernández & Stolfo-style multi-pass
#: block refinement — and only a block that is still over cap after
#: refinement is dropped (a single-template name family, exact-dedup
#: territory). Capped+refined semantics are the registered spec,
#: mirrored verbatim in the DuckDB oracles.
ER_BLOCK_CAP = 512


def _capped_block_pairs(names: DataFrame) -> DataFrame:
    """Capped candidate pairs from a ``(p_name, n, block)`` distinct-name
    frame — the ER-blocking twin of :func:`_band_bucket_pairs`
    (VERDICT r10 §1: this replaces the former
    ``a join F.broadcast(b) on block`` self-joins, whose forced broadcast
    of the distinct-name frame cannot build once distinct names are
    billions of rows).

    Posting-list form (:func:`_posting` / :func:`_posting_pairs`): ONE
    groupBy collects each block's sorted ``(p_name, n)`` list; over-cap
    blocks are re-keyed by the first token (one refinement level — see
    :data:`ER_BLOCK_CAP`), and one capped explode over both levels turns
    every block within [2, ER_BLOCK_CAP] into its C(k, 2) ordered pairs,
    so one mega-block can neither pin a task to quadratic work nor force
    a vocabulary-sized broadcast. No pair can appear in two blocks (each
    name carries exactly one block key per level), so no cross-block
    dedup is needed.
    """
    member = F.struct("p_name", "n")
    posting = _posting(names, member, "block")
    refined = _posting(
        posting.where(F.size("ds") > ER_BLOCK_CAP)
        .select("block", F.explode("ds").alias("m"))
        .select(
            F.concat_ws(
                "|", "block", F.substring_index("m.p_name", " ", 1)
            ).alias("block"),
            "m.p_name",
            "m.n",
        ),
        member,
        "block",
    )
    return _posting_pairs(
        posting.unionByName(refined),
        "x.p_name AS name_a, x.n AS n_a, y.p_name AS name_b, y.n AS n_b",
        ER_BLOCK_CAP,
    )


def name_near_dup_pairs(t: Tables) -> DataFrame:
    """Edit-distance near-duplicate name pairs over ``part``, blocked.

    The classic blocked string-dedup shape: collapse to DISTINCT names
    first (vocabulary-sized, not row-sized), block on the trailing token,
    and compare only within blocks. Candidates come from the CAPPED
    posting-list explode (:func:`_capped_block_pairs` — VERDICT r10 §1:
    no broadcast of the distinct-name frame anywhere; at 100 TB distinct
    names are corpus-growth and a forced broadcast cannot build, while a
    mega-block without the cap makes one task do C(block, 2) work).
    Self rows (``name_a == name_b``) are map-only over the distinct-name
    frame itself — they never depended on blocking. ``n_pairs`` recovers
    the row-level pair count from the per-name multiplicities, so the
    output is equivalent to (but ~|rows/vocab|² cheaper than) comparing
    raw rows.

    Single-token names carry no second-token block and are excluded
    SYMMETRICALLY on both engines (ADVICE r9: Spark's
    ``split().getItem(1)`` yields NULL — never equi-joins — while
    DuckDB's ``split_part`` yields ``''`` — all single-token names
    would share one block; the explicit filter pins the semantics
    instead of leaving them data-dependent).
    """
    names = (
        t["part"]
        .groupBy("p_name")
        .agg(F.count("*").alias("n"))
        .withColumn("block", F.get(F.split("p_name", " "), 1))
        .where(F.col("block").isNotNull() & (F.col("block") != ""))
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    cross = (
        _capped_block_pairs(names)
        .where(dist <= NAME_EDIT_MAX)
        .select(
            "name_a",
            "name_b",
            dist.alias("edit_dist"),
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
    )
    self_rows = names.select(
        F.col("p_name").alias("name_a"),
        F.col("p_name").alias("name_b"),
        F.lit(0).cast("int").alias("edit_dist"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    return cross.unionByName(self_rows)


NAME_EDIT_MAX = 3

#: sorted-neighborhood scan width: each name is compared to the next
#: SN_WINDOW-1 names in sort order
SN_WINDOW = 4


#: range key width for the partitioned sorted-neighborhood scan: names
#: sharing a 4-char prefix form one range. A fixed-length prefix is
#: ALWAYS a contiguous slice of the lexicographic sort (unlike a token
#: block), which is what makes per-range windows + a boundary strip
#: exactly equal to the global scan. Production at 100 TB would draw
#: range boundaries from sampled quantiles instead of a fixed prefix
#: (even ranges under any distribution); the plan shape is identical.
SN_RANGE_PREFIX = 4


def sorted_neighborhood_pairs(t: Tables) -> DataFrame:
    """Sorted-neighborhood entity-resolution pairs over ``part`` names —
    the classic complement to :func:`name_near_dup_pairs`' equality
    blocking (Hernández & Stolfo's merge/purge): sort the distinct names
    and compare each to its next ``SN_WINDOW - 1`` neighbors, so near
    duplicates that straddle a block boundary (different blocking token)
    are still compared, and the candidate count is LINEAR in vocabulary
    size by construction — (W-1)·|vocab| comparisons, no block-skew
    blow-up.

    RANGE-PARTITIONED plan (VERDICT r9 §7 — the former global
    ``Window.orderBy`` collapsed the whole vocab into one partition;
    this makes the docstring's own scale recipe real):

    1. ranges = fixed-prefix buckets of the distinct-name frame
       (contiguous in the global sort BY CONSTRUCTION — see
       :data:`SN_RANGE_PREFIX`); the ``lead(k)`` window partitions by
       range, so in-range neighbor distance equals global distance and
       every range sorts in parallel;
    2. boundary strip = the first/last (W−1) names of each range (the
       "(W−1)-row boundary overlap"): any cross-range pair at global
       distance ≤ W−1 has both endpoints AND every name between them in
       the strip, so one window over the STRIP (≤ 2(W−1)·|ranges| rows —
       bounded by range count, not vocab) emits exactly the cross-range
       pairs; in-range strip pairs are filtered out (already produced by
       step 1). A strip pair whose global distance exceeds W−1 cannot
       survive: ≥ W−1 strip names (a full range tail/head between them)
       separate the endpoints.

    Pair-set equality with the single-window form is pinned by test;
    the plan test asserts no vocab-sized single-partition Window
    remains.
    """
    from pyspark.sql import Window

    names = (
        t["part"]
        .select("p_name")
        .distinct()
        .withColumn("rng", F.substring("p_name", 1, SN_RANGE_PREFIX))
    )
    wb = Window.partitionBy("rng").orderBy("p_name")
    within = names.select(
        F.col("p_name").alias("name_a"),
        F.array(
            *[F.lead("p_name", k).over(wb) for k in range(1, SN_WINDOW)]
        ).alias("cands"),
    ).select("name_a", F.explode("cands").alias("name_b"))
    rn = F.row_number().over(wb)
    rd = F.row_number().over(
        Window.partitionBy("rng").orderBy(F.col("p_name").desc())
    )
    strip = (
        names.withColumn("rn", rn)
        .withColumn("rd", rd)
        .where(
            (F.col("rn") <= SN_WINDOW - 1) | (F.col("rd") <= SN_WINDOW - 1)
        )
        .select("p_name", "rng")
    )
    ws = Window.orderBy("p_name")  # strip-sized, bounded by |ranges|
    cross = (
        strip.select(
            F.col("p_name").alias("name_a"),
            F.col("rng").alias("rng_a"),
            F.array(
                *[
                    F.lead(F.struct("p_name", "rng"), k).over(ws)
                    for k in range(1, SN_WINDOW)
                ]
            ).alias("cands"),
        )
        .select("name_a", "rng_a", F.explode("cands").alias("c"))
        .where(F.col("c.rng") != F.col("rng_a"))
        .select("name_a", F.col("c.p_name").alias("name_b"))
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        within.unionByName(cross)
        .where(F.col("name_b").isNotNull() & (dist <= NAME_EDIT_MAX))
        .select("name_a", "name_b", dist.alias("edit_dist"))
    )

def _token_block_candidates(t: Tables) -> DataFrame:
    """Equality-blocked ER candidates over DISTINCT part names (block =
    second whitespace token): the complement VERDICT r8 §7 asked to
    union under the scoring layer — names whose shared token sorts them
    FAR apart ("corp acme" / "acme corp"-shaped transpositions, or
    same-suffix names differing in their first characters) never land
    in one sorted-neighborhood window, but share an equality block.
    Candidates come from the same CAPPED posting-list explode as
    :func:`name_near_dup_pairs` (:func:`_capped_block_pairs` —
    VERDICT r10 §1: no vocabulary-sized broadcast, over-cap blocks
    refined by first token then dropped loudly), so the union's
    candidate count stays vocabulary-linear plus cap-bounded.
    Single-token names (no second token → no block) are excluded
    symmetrically on both engines (ADVICE r9 — see
    :func:`name_near_dup_pairs`)."""
    names = (
        t["part"]
        .select("p_name")
        .distinct()
        .withColumn("n", F.lit(0).cast("long"))
        .withColumn("block", F.get(F.split("p_name", " "), 1))
        .where(F.col("block").isNotNull() & (F.col("block") != ""))
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        _capped_block_pairs(names)
        .where(dist <= NAME_EDIT_MAX)
        .select("name_a", "name_b", dist.alias("edit_dist"))
    )


def er_candidate_pairs(t: Tables) -> DataFrame:
    """The ER candidate union (VERDICT r8 §7): sorted-neighborhood scan
    (linear in vocabulary — catches cross-block near-sorts) ∪ second-
    token equality blocks (catches far-apart sorts sharing a token),
    deduped on the pair key. Both generators emit name_a < name_b over
    the same distinct-name frame, so the union is a plain pair-key
    dedup, and each source remains independently registered/checked."""
    return (
        sorted_neighborhood_pairs(t)
        .unionByName(_token_block_candidates(t))
        .dropDuplicates(["name_a", "name_b"])
    )


#: Fellegi–Sunter-style integer agreement weights and tier thresholds.
#: Four field comparators: edit-distance band, 6-char prefix, first
#: token, last token (the suffix comparator keeps an early-position
#: single edit — maximal string agreement, zero prefix/first-token
#: agreement — from being structurally locked out of the match band).
ER_W_EDIT = {1: 8, 2: 5, 3: 2}
ER_W_PREFIX = 4  # same first 6 characters
ER_W_TOKEN = 3  # same first whitespace token
ER_W_SUFFIX = 3  # same last whitespace token
ER_MATCH_MIN = 10
ER_POSSIBLE_MIN = 6


def er_match_scores(t: Tables) -> DataFrame:
    """Entity-resolution scoring layer over the UNION candidates
    (:func:`er_candidate_pairs` — sorted-neighborhood ∪ token blocks,
    VERDICT r8 §7): each candidate pair gets a Fellegi–Sunter-style
    additive agreement score from four cheap field comparators (edit
    distance band, 6-char prefix, first token, last token) and a decision tier
    (match / possible / weak) — the classify step that turns candidate
    GENERATION into a linkage decision, with the review queue = the
    'possible' tier.

    All weights are integers, so score and tier hash-match; the oracle
    composes the union-candidate oracle verbatim as its candidate CTE,
    so the scored population is exactly the registered candidate
    semantics. Cost: a map-only projection over the candidate list.
    """
    p = er_candidate_pairs(t)
    w_edit = (
        F.when(F.col("edit_dist") == 1, ER_W_EDIT[1])
        .when(F.col("edit_dist") == 2, ER_W_EDIT[2])
        .otherwise(ER_W_EDIT[3])
    )
    w_prefix = F.when(
        F.substring("name_a", 1, 6) == F.substring("name_b", 1, 6),
        ER_W_PREFIX,
    ).otherwise(0)
    w_token = F.when(
        F.substring_index("name_a", " ", 1)
        == F.substring_index("name_b", " ", 1),
        ER_W_TOKEN,
    ).otherwise(0)
    w_suffix = F.when(
        F.substring_index("name_a", " ", -1)
        == F.substring_index("name_b", " ", -1),
        ER_W_SUFFIX,
    ).otherwise(0)
    score = (w_edit + w_prefix + w_token + w_suffix).cast("long")
    return p.select(
        "name_a",
        "name_b",
        "edit_dist",
        score.alias("score"),
        F.when(score >= ER_MATCH_MIN, "match")
        .when(score >= ER_POSSIBLE_MIN, "possible")
        .otherwise("weak")
        .alias("tier"),
    )


def er_entity_clusters(t: Tables) -> DataFrame:
    """Entity ids from the ER decision layer: connected components over
    the ACTIONABLE pairs (tier 'match' or 'possible' — everything that
    either links automatically or lands in the review queue), so every
    linked group of part names gets ONE canonical entity id (the
    lexicographically smallest member). This is the review-queue
    grouping: a reviewer sees one candidate entity, not scattered pairs.
    :func:`er_match_clusters` beside it groups the auto-link 'match'
    tier alone.

    Runs on the star-contraction loop
    (:func:`pipeline._star_connected_components`), which is TYPE-GENERIC
    — string nodes work because contraction only needs least/greatest
    and an order-insensitive checksum; the pointer-doubling loop's
    sum-of-labels convergence test is numeric-only. Cost: the match
    graph is vocabulary-sized (≪ rows), so every CC round is a
    tiny-frame job. Oracle: recursive CTE over the composed ER SQL."""
    return _er_clusters(t, F.col("tier") != "weak")


def er_match_clusters(t: Tables) -> DataFrame:
    """Entity ids from the MATCH tier alone (VERDICT r8 §7) — the
    auto-link grouping a pipeline applies WITHOUT review, beside
    :func:`er_entity_clusters`' actionable-tier grouping (match +
    review queue). With the union candidate source, high-agreement
    pairs (edit 1 + shared prefix + shared first token) reach the match
    band even when they sort far apart; tiers below ER_MATCH_MIN never
    enter this graph, so a reviewer backlog can't leak into automated
    merges. Same type-generic star-contraction CC, same
    vocabulary-sized cost."""
    return _er_clusters(t, F.col("tier") == "match")


def _er_clusters(t: Tables, linked: Column) -> DataFrame:
    """``(p_name, entity_id)``: star-contraction CC labels over the
    :func:`er_match_scores` pairs that satisfy ``linked``."""
    from .pipeline import _star_connected_components

    pairs = er_match_scores(t).where(linked).select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    return _star_connected_components(pairs).select(
        F.col("doc_id").alias("p_name"),
        F.col("component").alias("entity_id"),
    )


# "auto" hot-shingle cap: a CONSTANT document-frequency ceiling. Being
# boilerplate is an absolute property of a shingle (appearing in >128
# documents makes it non-discriminative no matter how big the corpus is),
# and the cap bounds the per-shingle pair blow-up at C(cap, 2) — a
# CORPUS-PROPORTIONAL cap (an earlier round used 2% of doc count) makes
# that blow-up C(0.02·n, 2), i.e. QUADRATIC in corpus size: the scale
# probe measured ngram pair generation 3 s → 23 s when 4× data raised the
# proportional cap 100 → 400. Constant cap also removes the up-front
# count() job the proportional formula needed.
AUTO_DF_CAP = 128


def _jaccard_from_common(common, na, nb):
    return F.round(common / (na + nb - common), 4)


def ngram_jaccard_pairs(
    t: Tables, max_shingle_df: int | str | None = "auto"
) -> DataFrame:
    """Exact word-3-gram Jaccard pairs with similarity ≥ threshold.

    Plan (grouped-inverted-index form, one pass over the corpus): the
    cached shingle arrays (set size = ``size(shingles)``, map-side) feed
    :func:`_shingle_commons` — one posting-list shuffle on the shingle
    hash with the document-frequency filter applied in the explode, a
    per-pair count for the intersection and two unhinted size joins.
    This replaced the exploded self-join on shingle hash: same semantics,
    but one wide shuffle (the 260k-row posting build) instead of three
    (sizes agg + join + pair agg) — measured 3.3 s → 2.0 s at sf0.1.

    ``max_shingle_df``: the hot-shingle cap. The REGISTERED DEFAULT is
    ``"auto"`` = the CONSTANT ``AUTO_DF_CAP`` (see its comment: a
    proportional cap makes per-shingle pair work quadratic in corpus
    size), so the per-shingle blow-up that skewed keys cause at 100 TB is
    bounded at C(cap, 2) by default — and the DuckDB oracle applies the
    identical cap, so capped semantics ARE the spec, not an approximation
    of it.
    Capping only shrinks the intersection count while set sizes stay
    exact, so every emitted pair is a true pair with an under-estimated
    score: output ⊆ uncapped output (pinned in tests). Pass ``None`` for
    the uncapped exact baseline; the true scale path for pair discovery
    is :func:`minhash_lsh_pairs`, whose cost is candidate-proportional.
    """
    return (
        _shingle_commons(_doc_shingles_cached(t), max_shingle_df)
        .select(
            "id_a",
            "id_b",
            _jaccard_from_common(
                F.col("common"), F.col("n_a"), F.col("n_b")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


#: threshold sweep points (percent Jaccard) for the aggressiveness curve
SWEEP_THETAS_PCT = (30, 50, 70, 90)


def _sweep_rollup(scored: DataFrame) -> DataFrame:
    """Per-θ rollup shared by the banded sweep and its exact check:
    gate each scored pair (carrying a rounded ``jaccard``) at every θ
    with the IDENTICAL rounded-float comparison the registered
    :func:`ngram_jaccard_pairs` uses (``round(j, 4) ≥ θ/100`` — θ/100
    divides to the same IEEE double in Spark and DuckDB, so the θ=30
    cell equals the registered pair set BY CONSTRUCTION; ADVICE r8: the
    earlier integer gate diverged from the rounded gate on Jaccard
    values in [θ/100 − 5e-5, θ/100)). Thresholds with zero survivors
    still emit a row (left join from the θ spine), because "0.9 kills
    everything" is exactly the datum the curve exists to show."""
    spark = scored.sparkSession
    thetas = local_df(
        spark,
        [(p,) for p in SWEEP_THETAS_PCT], "theta_pct int"
    )
    hits = scored.crossJoin(F.broadcast(thetas)).where(
        F.col("jaccard") >= F.col("theta_pct") / F.lit(100.0)
    )
    pairs_per = hits.groupBy("theta_pct").agg(F.count("*").alias("n_pairs"))
    docs_per = (
        hits.select(
            "theta_pct", F.explode(F.array("id_a", "id_b")).alias("d")
        )
        .groupBy("theta_pct")
        .agg(F.count_distinct("d").alias("n_docs_in_pairs"))
    )
    return (
        thetas.join(pairs_per, "theta_pct", "left")
        .join(docs_per, "theta_pct", "left")
        .select(
            "theta_pct",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0).cast("long")).alias(
                "n_docs_in_pairs"
            ),
        )
    )


def near_dup_threshold_sweep(t: Tables) -> DataFrame:
    """Dedup-aggressiveness curve: for each candidate Jaccard threshold,
    how many near-dup pairs and how many documents sit at-or-above it —
    the table read before committing a campaign's θ (too low wipes
    topical families; too high leaves templated copies).

    VERDICT r8 §4: pair discovery is now the BANDED MinHash candidate
    source (:func:`minhash_lsh_pairs` — bucketed, never all-pairs, the
    100 TB path; its exact-Jaccard verification means every scored pair
    carries a true rounded Jaccard, so per-θ gating is exact
    RESCORING of approximate candidates). Output ⊆ the exact UNCAPPED
    sweep — the same subset contract as the rest of the LSH family,
    recall pinned by :func:`minhash_recall_check`, subset-per-θ pinned
    in tests against the uncapped index. xxhash64 banding isn't
    SQL-reproducible → rows-only driver check;
    :func:`near_dup_threshold_sweep_check` is the hash-checked exact
    twin — NOTE (ADVICE r9) the twin measures CAPPED Jaccard (the
    AUTO_DF_CAP'd index under-counts ``common`` when the cap bites), so
    its per-θ cells are not an upper bound on this sweep's: a pair the
    cap pushes below θ still appears here with its true uncapped score.
    The two sweeps agree wherever the cap is idle (all fixture/test
    scales); the uncapped subset contract lives in tests, not the twin.
    All sweep θs are ≥ the registered JACCARD_THRESHOLD, so the
    verified LSH output loses nothing to its own gate."""
    from ..tables import persist_replacing

    pairs = persist_replacing(
        minhash_lsh_pairs(t), "dedup.sweep_banded_pairs"
    )
    return _sweep_rollup(pairs)


def near_dup_threshold_sweep_check(t: Tables) -> DataFrame:
    """EXACT hash-checked twin of :func:`near_dup_threshold_sweep`: the
    same per-θ rollup over the capped inverted index of
    :func:`ngram_jaccard_pairs` (campaign-priced — it reruns the exact
    index by construction, which is why the banded sweep is the
    registered production wiring).

    Contract precision (ADVICE r9): this twin measures CAPPED Jaccard —
    df > AUTO_DF_CAP shingles are excluded from ``common`` while set
    sizes stay exact — so when the cap bites, a cell here can be
    SMALLER than the banded sweep's (which rescores candidates with
    uncapped exact Jaccard). The banded sweep's subset contract is
    against the UNCAPPED exact sweep and is asserted in tests; this
    twin exists to hash-pin the capped-index semantics themselves."""
    from ..tables import persist_replacing

    # rebuild the capped pair-commons (ngram_jaccard_pairs applies the
    # registered threshold before returning, so it can't be reused here)
    sh = persist_replacing(
        _shingles(t["documents"]), "dedup.sweep_shingles", fill=True
    )
    pc = persist_replacing(
        _shingle_commons(sh, AUTO_DF_CAP).select(
            "id_a",
            "id_b",
            _jaccard_from_common(
                F.col("common"), F.col("n_a"), F.col("n_b")
            ).alias("jaccard"),
        ),
        "dedup.sweep_pairs",
    )
    return _sweep_rollup(pc)


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    """k MinHash values per doc from one xxhash64 pass over a shingle frame.

    Computed with higher-order functions over the shingle *array* —
    ``array_min(transform(...))`` per hash function — so signature
    generation is a pure map stage: zero shuffle, no exploded intermediate.
    At 100 TB this is the difference between a map-only pass and shuffling
    billions of (doc, shingle) rows.
    """
    hashed = sh.select(
        "doc_id",
        F.transform(
            "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))
        ).alias("hs"),
    )
    cols = [
        F.array_min(
            F.transform(
                "hs", lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(MINHASH_K))
    ]
    return hashed.select("doc_id", *cols)


#: hot-bucket ceiling for EVERY band join (MinHash bands, SimHash bands,
#: banded containment): a band bucket holding more than this many docs is
#: dropped instead of exploded. Same reasoning as AUTO_DF_CAP — a band
#: signature shared by >512 documents is boilerplate-degenerate (an
#: all-equal-band cluster that big is one template family, already caught
#: by exact dedup / smaller buckets), and without the cap one degenerate
#: key makes a single task do C(bucket, 2) work: per-bucket QUADRATIC
#: inside one task at 100 TB (VERDICT r9 §4). The cap bounds it at
#: C(512, 2) ≈ 131k pairs per bucket. Constant, not corpus-proportional,
#: for the same reason as AUTO_DF_CAP.
BAND_BUCKET_CAP = 512


def _band_bucket_pairs(banded: DataFrame) -> DataFrame:
    """Capped candidate pairs from a (doc_id, bk) banded frame — the
    MinHash band join shared by :func:`minhash_lsh_pairs` and
    :func:`containment_pairs_banded`.

    Posting-list form instead of a self-join on ``bk``: ONE groupBy
    collects each band bucket's sorted doc list and buckets outside
    [2, BAND_BUCKET_CAP] are dropped before the explode (pinned by the
    skew test in tests/test_operators.py: a corpus with a degenerate
    template bucket stays bounded instead of quadratic). A pair sharing
    several bands is emitted once.
    """
    return _posting_pairs(
        _posting(banded, "doc_id", "bk"), _ID_PAIR, BAND_BUCKET_CAP
    ).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(t: Tables) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard.

    Banding: k/bands rows per band; docs sharing a band signature become
    candidates. Verification re-computes exact Jaccard so every emitted pair
    is a true ≥-threshold pair (output ⊆ ngram_jaccard_pairs).

    Candidates come from the CAPPED bucket explode
    (:func:`_band_bucket_pairs`): a degenerate band bucket (boilerplate
    template shared by thousands of docs) is dropped at
    ``BAND_BUCKET_CAP`` instead of exploding quadratically inside one
    task (VERDICT r9 §4). The identical cap applies wherever this
    candidate source is consumed (threshold sweep, recall check), so
    capped semantics are the registered spec; the recall contract
    (:func:`minhash_recall_check`, ≥ MINHASH_RECALL_PCT%) is asserted
    as driver-checked data UNDER the cap.

    The shingle frame (the measured dominant cost) is computed ONCE and
    ``persist()``-ed, shared by the signature pass and the verification
    pass — Spark's CacheManager matches both subtrees to the cached plan.
    The cache is slot-bounded AND session-shared (see
    ``tables.persist_replacing``): the same ``doc_shingles`` slot backs
    :func:`ngram_jaccard_pairs`, so a session running the dedup ladder
    computes the shingle index exactly once.
    """
    sh, banded = _band_keys(t)
    return _verify_jaccard(_band_bucket_pairs(banded), sh, "id_a", "id_b")


def _banded(sig: DataFrame) -> DataFrame:
    """(doc_id, band key) rows: one xxhash64 per band over its signature
    rows. One row per (doc, band) feeding a single equi-join on the band
    key replaces MINHASH_BANDS separate self-joins — one shuffle."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk"))


def _verify_jaccard(
    cands: DataFrame, sh: DataFrame, left: str, right: str
) -> DataFrame:
    """Candidate pairs (``left``, ``right``) with their exact rounded
    Jaccard, kept at ≥ JACCARD_THRESHOLD (:func:`_rescored`)."""
    return _rescored(
        cands,
        sh,
        left,
        right,
        lambda c, a, b: [_jaccard_from_common(c, a, b).alias("jaccard")],
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


#: modulus splitting documents into "already-ingested corpus" vs "incoming
#: batch" — shared with pipeline.incremental_exact_dedup so the exact and
#: near-dup incremental ops describe the same ingest.
INCR_BATCH_MOD = 10


def incremental_minhash_pairs(t: Tables) -> DataFrame:
    """Incremental near-dup ingest: each document of an incoming batch
    checked against the already-ingested corpus via the banded MinHash
    index — the production shape for continuous corpus ingestion, where
    re-running all-pairs dedup per drop is unaffordable.

    Corpus = ``doc_id % INCR_BATCH_MOD != 0``, batch = the rest (the same
    split as :func:`..pipeline.incremental_exact_dedup`). Both sides'
    band keys come from ONE signature pass; candidates are batch-docs ×
    corpus-docs WITHIN each band bucket (capped at ``BAND_BUCKET_CAP``,
    same hot-bucket bound as :func:`_band_bucket_pairs`), so candidate
    volume is proportional to the batch, not
    the corpus. At 100 TB the corpus side is a PRECOMPUTED band-key table
    (written at ingest time, bucketed by band key) — each new drop only
    computes its own signatures and probes the index shuffle-free on the
    corpus side. Verification is exact Jaccard, so precision is exact:
    every emitted (new_id, old_id) is a true ≥-threshold near-dup.

    xxhash64-based → rows-only driver check;
    :func:`incremental_ingest_check` turns the subset + recall contract
    into a hard driver-checked claim.
    """
    sh, banded = _band_keys(t)
    # same capped posting-list form as _band_bucket_pairs, with the
    # batch × corpus split done INSIDE each bucket's array (filter by the
    # ingest modulus) so a degenerate band bucket is dropped before it
    # can cross-product
    cands = (
        _posting(banded, "doc_id", "bk")
        .where(
            (F.size("ds") >= 2) & (F.size("ds") <= BAND_BUCKET_CAP)
        )
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform("
                    f"filter(ds, x -> x % {INCR_BATCH_MOD} = 0), nx -> "
                    f"transform(filter(ds, x -> x % {INCR_BATCH_MOD} != 0), "
                    f"ox -> struct(nx AS new_id, ox AS old_id))))"
                )
            ).alias("p")
        )
        .select("p.new_id", "p.old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    return _verify_jaccard(cands, sh, "new_id", "old_id")


def incremental_ingest_check(t: Tables) -> DataFrame:
    """DuckDB-checkable claim about :func:`incremental_minhash_pairs`
    (itself rows-only): one row with the exact cross-boundary near-dup
    pair count (uncapped Jaccard, one side in the batch and one in the
    corpus — SQL-computable), a subset flag (verification guarantees the
    incremental output is contained in that exact set) and a recall flag
    (≥ MINHASH_RECALL_PCT%)."""
    is_batch_a = F.col("id_a") % INCR_BATCH_MOD == 0
    is_batch_b = F.col("id_b") % INCR_BATCH_MOD == 0
    exact_cross = ngram_jaccard_pairs(t, max_shingle_df=None).where(
        is_batch_a != is_batch_b
    )
    # normalize incremental pairs to (min, max) to match the exact set's
    # id_a < id_b orientation
    inc = incremental_minhash_pairs(t).select(
        F.least("new_id", "old_id").alias("id_a"),
        F.greatest("new_id", "old_id").alias("id_b"),
    )
    return _recall_contract(exact_cross, inc, MINHASH_RECALL_PCT, "n_exact_cross")


#: recall bound the driver-checked minhash claim asserts (percent).
#: raised 80 → 90 in r11 (measured 100% at sf0.001/0.01/0.1 — same
#: tighten-to-measured-band treatment as the five VERDICT r10 §5 floors;
#: 90 leaves banding-probability margin)
MINHASH_RECALL_PCT = 90


def minhash_recall_check(t: Tables) -> DataFrame:
    """DuckDB-checkable claim about :func:`minhash_lsh_pairs` (which is
    itself rows-only — xxhash64 isn't reproducible in DuckDB): one row
    stating the exact pair count, that the LSH output is a SUBSET of the
    exact uncapped pairs (verification guarantees precision), and that
    recall is ≥ MINHASH_RECALL_PCT%. The oracle computes the exact count
    and expects both flags TRUE, so the approximate operator's quality
    contract is driver-verified as data — the same bound the local test
    pins, now hash-checked every rotation.
    """
    return _recall_contract(
        ngram_jaccard_pairs(t, max_shingle_df=None),
        minhash_lsh_pairs(t),
        MINHASH_RECALL_PCT,
    )


def simhash_fingerprints(t: Tables) -> DataFrame:
    """64-bit SimHash per document: bit-majority over token hash values.

    Map-only mapInPandas: tokens are hashed with crc32 (deterministic,
    C-speed; two variants give 64 bits), bits unpacked and majority-summed
    in numpy per document. Replaces an earlier explode + 64-conditional-sum
    aggregation (one shuffle of every token + 64 branch evaluations per
    token) — this form has zero shuffle and is ~10× faster; at 100 TB a
    constant-width fingerprint per document out of a map stage is exactly
    what a hamming-distance near-dup pass wants.

    Token-less documents (NULL, empty or all-whitespace text) fingerprint to
    NULL, not 0 (ADVICE r10: a non-empty document can legitimately
    bit-majority to 0 — every vote non-positive — and gating downstream
    exclusions on the VALUE would silently drop it from near-dup
    detection; NULL gates on the actual degenerate condition).
    """

    def simhash_batches(batches):
        import zlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws = (text or "").split()
                if not ws:
                    ids.append(doc_id)
                    fps.append(None)
                    continue
                h = np.fromiter(
                    (
                        (zlib.crc32(w.encode()) << 32)
                        | zlib.crc32(w.encode(), 0x9E3779B9)
                        for w in ws
                    ),
                    dtype="uint64",
                    count=len(ws),
                )
                bits = np.unpackbits(h.view("uint8").reshape(-1, 8), axis=1)
                # signed accumulation — uint64 would wrap on 2*sum < len
                votes = bits.sum(axis=0).astype("int64") * 2 - len(ws)
                fp = np.uint64(0)
                for b, v in enumerate(votes):
                    if v > 0:
                        fp |= np.uint64(1) << np.uint64(b)
                ids.append(doc_id)
                fps.append(int(fp.astype("int64")))  # two's-complement into long
            # nullable Int64: None (token-less doc) must survive the
            # Arrow transfer as SQL NULL, not coerce the column to float
            yield pd.DataFrame(
                {"doc_id": ids, "simhash": pd.array(fps, dtype="Int64")}
            )

    return t["documents"].select("doc_id", "text").mapInPandas(
        simhash_batches, schema="doc_id bigint, simhash bigint"
    )


#: containment threshold on max-containment |A∩B| / min(|A|, |B|)
CONTAINMENT_MIN = 0.8


def containment_pairs(
    t: Tables, max_shingle_df: int | str | None = "auto"
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs (Broder's containment measure,
    public) — the quote/subset detector symmetric Jaccard misses: a
    short document embedded verbatim inside a long one has
    max-containment |A∩B| / min(|A|,|B|) ≈ 1 while its Jaccard stays
    low (the union is dominated by the long document), so a
    Jaccard-thresholded dedup keeps the pair and the training set
    double-counts the quoted text. Output carries BOTH measures so the
    caller can select the containment-high / Jaccard-low band (true
    subsets) vs the both-high band (near-equals, already handled by the
    Jaccard ladder).

    STATUS (VERDICT r9 §2): this is the EXACT, campaign-priced baseline
    — same capped inverted index and one posting-list shuffle as
    :func:`ngram_jaccard_pairs`, with the same α≈0.85 growth. The
    registered 100 TB production path is
    :func:`containment_pairs_banded` (MinHash band candidates rescored
    with exact containment, candidate-proportional cost); this op is
    its hash-green exact companion and the recall denominator of
    :func:`containment_recall_check` (via ``max_shingle_df=None``).
    NOTE the cap asymmetry the check avoids: the default capped index
    UNDER-counts ``common`` when the df-cap bites, so the capped exact
    set can MISS pairs the banded op (which rescores with uncapped
    ``array_intersect``) finds — the check therefore compares against
    the UNCAPPED exact set, where banded ⊆ exact by construction."""
    return _shingle_commons(_doc_shingles_cached(t), max_shingle_df).select(
        "id_a",
        "id_b",
        *_containment_cols(F.col("common"), F.col("n_a"), F.col("n_b")),
    ).where(F.col("containment") >= F.lit(CONTAINMENT_MIN))


def _containment_cols(common, n_a, n_b) -> list:
    """The containment ops' shared columns over an intersection size and
    two set sizes: ``common, n_a, n_b`` as longs, max-containment
    ``common / min(n_a, n_b)`` and Jaccard, both rounded to 4 places."""
    return [
        common.cast("long").alias("common"),
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        F.round(common / F.least(n_a, n_b), 4).alias("containment"),
        _jaccard_from_common(common, n_a, n_b).alias("jaccard"),
    ]


#: recall bound the driver-checked banded-containment claim asserts
#: (percent, vs the UNCAPPED exact containment set). Banded recall for a
#: containment pair follows the MinHash s-curve on its JACCARD: a
#: containment-c pair with sizes m ≤ M has j = c·m / (m + M − c·m), so
#: near-equal-size subsets collide like ordinary near-dups while extreme
#: size-ratio quotes (M ≫ m → j → c·m/M) are the recall tail — the
#: documented approximation axis of the banded route. Measured recall is
#: 100% at sf0.001/0.01/0.1, so the floor sits at 90 (VERDICT r10 §5 —
#: a 60 floor would keep a silent one-third recall loss green); a corpus
#: of pathological 100×-size quotes would need more bands or a
#: prefix-sampled candidate source, and would trip this loudly first.
CONTAINMENT_RECALL_PCT = 90


def containment_pairs_banded(t: Tables) -> DataFrame:
    """PRODUCTION containment pairs (VERDICT r9 §1a): the MinHash band
    candidates of :func:`minhash_lsh_pairs` rescored with EXACT
    containment |A∩B| / min(|A|,|B|) from the cached shingle arrays —
    the same banded-candidates + exact-rescore pattern as the r9
    threshold-sweep fix, applied to the one dedup op that still rode
    the exact capped index at α≈0.85.

    Cost is candidate-proportional: band buckets are capped
    (:func:`_band_bucket_pairs`), verification touches only candidate
    pairs, and the shingle/signature frames are the shared cached slots
    of the whole dedup ladder. Precision is exact (every emitted pair
    carries true uncapped containment ≥ CONTAINMENT_MIN → output ⊆ the
    uncapped exact set); recall is the approximate axis, quantified as
    driver-checked data by :func:`containment_recall_check` (bound and
    its size-ratio caveat at :data:`CONTAINMENT_RECALL_PCT`). xxhash64
    banding isn't SQL-reproducible → rows-only driver check, with the
    recall check as its hash-green companion.

    Output schema matches :func:`containment_pairs` (id_a, id_b,
    common, n_a, n_b, containment, jaccard) so campaign wiring can swap
    the exact baseline out for this one unchanged."""
    sh, banded = _band_keys(t)
    return _rescored(
        _band_bucket_pairs(banded), sh, "id_a", "id_b", _containment_cols
    ).where(F.col("containment") >= F.lit(CONTAINMENT_MIN))


def containment_recall_check(t: Tables) -> DataFrame:
    """DuckDB-checkable contract for :func:`containment_pairs_banded`
    (itself rows-only): one row with the UNCAPPED exact containment
    pair count (SQL-recomputable), a subset flag (exact rescoring
    guarantees precision — nothing outside the uncapped exact set) and
    a recall flag (≥ CONTAINMENT_RECALL_PCT% of the exact set found by
    the banded route). The uncapped exact side deliberately bypasses
    AUTO_DF_CAP so the subset claim cannot be broken by cap-reduced
    ``common`` (see :func:`containment_pairs`'s cap-asymmetry note)."""
    return _recall_contract(
        containment_pairs(t, max_shingle_df=None),
        containment_pairs_banded(t),
        CONTAINMENT_RECALL_PCT,
    )


#: SimHash near-dup banding: B = SIMHASH_HAM_MAX + 1 bands of 64/B bits.
#: Pigeonhole GUARANTEE (Manku, Jain & Das Sarma, WWW'07 — public):
#: two fingerprints within hamming distance ≤ SIMHASH_HAM_MAX differ in
#: at most SIMHASH_HAM_MAX bit positions, which can dirty at most
#: SIMHASH_HAM_MAX of the SIMHASH_BANDS disjoint bands — so they agree
#: EXACTLY on at least one band. Unlike MinHash banding this recall is
#: 1.0 by construction, not probabilistic.
SIMHASH_HAM_MAX = 3
SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = 64 // SIMHASH_BANDS

#: sub-band refinement of over-cap simhash band buckets (ADVICE r10):
#: the 16-bit band key space is FIXED, so bucket occupancy grows linearly
#: with corpus size and beyond ~BAND_BUCKET_CAP·2^16 docs per band a flat
#: cap would drop essentially every candidate on a perfectly benign
#: corpus. Instead, members of an over-cap bucket are re-keyed by the
#: SIMHASH_SUBBANDS disjoint 12-bit chunks of their REMAINING 48 bits
#: (one row per chunk — replication is the "overlap" that preserves the
#: pigeonhole guarantee): a pair that agrees on band b with hamming ≤
#: SIMHASH_HAM_MAX has at most SIMHASH_HAM_MAX dirty bits in the other
#: 48, which can dirty at most SIMHASH_HAM_MAX of the SIMHASH_HAM_MAX+1
#: chunks — so the pair still shares ≥1 sub-bucket. Refined key space is
#: 16+12 = 28 bits; only a sub-bucket still over cap (an identical-
#: fingerprint template family — exact-dedup territory) is dropped, and
#: then :func:`simhash_band_check` goes loudly false.
SIMHASH_SUBBANDS = SIMHASH_HAM_MAX + 1
_SIMHASH_SUB_BITS = (64 - _SIMHASH_BAND_BITS) // SIMHASH_SUBBANDS


def _simhash_rem48(b: int):
    """The 48 non-band-``b`` bits of ``simhash`` as one packed value —
    plan-time per-band expression (shift counts are Python ints, so the
    Java mod-64 shift pitfall at b = SIMHASH_BANDS-1 is avoided
    explicitly)."""
    low_bits = _SIMHASH_BAND_BITS * b
    if b == SIMHASH_BANDS - 1:
        return F.col("simhash").bitwiseAND(
            F.lit((1 << (64 - _SIMHASH_BAND_BITS)) - 1)
        )
    high = F.shiftrightunsigned(
        F.col("simhash"), _SIMHASH_BAND_BITS * (b + 1)
    )
    if b == 0:
        return high
    low = F.col("simhash").bitwiseAND(F.lit((1 << low_bits) - 1))
    return low.bitwiseOR(F.shiftleft(high, low_bits))


def _simhash_pairs_from_fps(fps: DataFrame) -> DataFrame:
    """Banded + sub-band-refined near-dup pairs from a ``(doc_id,
    simhash)`` fingerprint frame (NULL fingerprints already excluded by
    the caller). Exactness argument in :func:`simhash_near_dup_pairs`."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.xxhash64(
                    F.lit(b),
                    F.shiftrightunsigned(
                        F.col("simhash"), b * _SIMHASH_BAND_BITS
                    ).bitwiseAND(F.lit((1 << _SIMHASH_BAND_BITS) - 1)),
                ).alias("bk"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    member = F.struct("doc_id", "simhash")
    banded = fps.select(
        "doc_id", "simhash", F.explode(bands).alias("e")
    ).select("doc_id", "simhash", "e.b", "e.bk")
    posting = _posting(banded, member, "b", "bk")
    # over-cap buckets: re-key members by the 12-bit chunks of their
    # remaining 48 bits (see SIMHASH_SUBBANDS) and re-cap
    rem = _simhash_rem48(SIMHASH_BANDS - 1)
    for b in range(SIMHASH_BANDS - 1):
        rem = F.when(F.col("b") == b, _simhash_rem48(b)).otherwise(rem)
    sub_keys = F.array(
        *[
            F.xxhash64(
                F.col("bk"),
                F.lit(c),
                F.shiftrightunsigned(rem, c * _SIMHASH_SUB_BITS).bitwiseAND(
                    F.lit((1 << _SIMHASH_SUB_BITS) - 1)
                ),
            )
            for c in range(SIMHASH_SUBBANDS)
        ]
    )
    sub_posting = _posting(
        posting.where(F.size("ds") > BAND_BUCKET_CAP)
        .select("b", "bk", F.explode("ds").alias("m"))
        .select("m.*", "b", "bk")
        .select("doc_id", "simhash", F.explode(sub_keys).alias("sk")),
        member,
        "sk",
    )
    # one capped explode over both levels (an over-cap band bucket is
    # dropped here, its members already re-keyed into sub_posting)
    pairs = _posting_pairs(
        posting.select("ds").unionByName(sub_posting.select("ds")),
        "x.doc_id AS id_a, y.doc_id AS id_b, "
        "x.simhash AS f_a, y.simhash AS f_b",
        BAND_BUCKET_CAP,
    )
    ham = F.bit_count(F.col("f_a").bitwiseXOR(F.col("f_b")))
    return (
        pairs.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= F.lit(SIMHASH_HAM_MAX))
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_dup_pairs(t: Tables) -> DataFrame:
    """SimHash near-duplicate pairs via pigeonhole banding — the step
    that turns :func:`simhash_fingerprints`' constant-width fingerprints
    into pairs at scale: explode each fingerprint into SIMHASH_BANDS
    disjoint 16-bit band keys, bucket the band keys (candidates =
    same-band collisions only, never all-pairs), verify with the
    exact ``bit_count(xor)`` hamming distance. Within the fingerprint
    space the output is EXACTLY the hamming ≤ SIMHASH_HAM_MAX pair set
    (pigeonhole completeness + exact verification), asserted as data by
    :func:`simhash_band_check` and pinned by test.

    100 TB posture: the banded frame is 4 rows/doc of (key,
    fingerprint); band buckets are CAPPED posting lists
    (``BAND_BUCKET_CAP``) so a degenerate band key can't pin one task to
    quadratic work — but because the 16-bit band key space saturates at
    corpus scale (ADVICE r10), over-cap buckets are SUB-BAND REFINED
    (:data:`SIMHASH_SUBBANDS` — 12-bit chunks of the remaining 48 bits,
    replicated so the pigeonhole guarantee survives refinement) rather
    than dropped; only a sub-bucket still over cap (an identical-
    fingerprint template family) is dropped, and then the band check
    goes loudly false rather than silently slow. Token-less documents
    fingerprint to NULL and are excluded by IS NOT NULL — the actual
    degenerate condition, not the fingerprint VALUE (ADVICE r10: a
    legitimate all-zero fingerprint stays in). crc32-based fingerprints
    aren't reproducible in DuckDB → rows-only driver check; the band
    check carries the completeness contract as data."""
    from ..tables import persist_replacing

    fps = persist_replacing(
        simhash_fingerprints(t), "dedup.simhash_fps"
    )
    return _simhash_pairs_from_fps(fps.where(F.col("simhash").isNotNull()))


def simhash_band_check(t: Tables) -> DataFrame:
    """Driver-checked completeness/precision contract for
    :func:`simhash_near_dup_pairs` (itself rows-only): one row with the
    SQL-recomputable document count and two flags — the banded pair set
    EQUALS the brute-force hamming ≤ SIMHASH_HAM_MAX set (pigeonhole
    says no pair can be missed — through the sub-band refinement level,
    see :data:`SIMHASH_SUBBANDS`; the full-outer comparison proves it as
    data) and contains nothing outside it. The brute-force side is the
    deliberate exact baseline (all-pairs bit_count over the fingerprint
    frame — check-priced, never the production path). Capped semantics
    are the spec on BOTH sides: token-less documents (NULL fingerprint —
    the actual degenerate condition, ADVICE r10) are excluded here
    exactly as the production op excludes them, and ``n_excluded``
    publishes that exclusion as a SQL-recomputable field; the
    hot-bucket cap (which the brute force cannot mirror) is chosen so a
    cap-induced miss flips ``complete_ok`` false LOUDLY rather than
    passing a silently-reduced pair set."""
    from ..tables import persist_replacing

    fps = persist_replacing(
        simhash_fingerprints(t), "dedup.simhash_fps"
    )
    # brute-force side mirrors the production op's degenerate-fingerprint
    # exclusion; n_docs below stays the FULL document count (crc32 keeps
    # fingerprint VALUES out of SQL, but "has no tokens" is
    # SQL-recomputable — hence n_excluded)
    nz = fps.where(F.col("simhash").isNotNull())
    a = nz.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("f_a"))
    b2 = nz.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("f_b"))
    ham = F.bit_count(F.col("f_a").bitwiseXOR(F.col("f_b")))
    exact = a.join(b2, F.col("id_a") < F.col("id_b")).where(
        ham <= F.lit(SIMHASH_HAM_MAX)
    )
    c = _overlap_counts(exact, simhash_near_dup_pairs(t), ["id_a", "id_b"])
    counts = fps.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("simhash").isNull(), 1)).alias("n_excluded"),
    )
    return counts.crossJoin(c).select(
        "n_docs",
        "n_excluded",
        (F.col("n_hit") == F.col("n_exact")).alias("complete_ok"),
        (F.col("n_outside") == 0).alias("subset_ok"),
    )


# The pair CTE ``p`` applies the same auto hot-shingle cap as the Spark
# default (max_shingle_df="auto"): identical integer-arithmetic cap, df >
# cap shingles excluded from the intersection count, set sizes ``n`` stay
# uncapped — capped semantics are the registered spec on both sides.
_CAP_DUCK = str(AUTO_DF_CAP)

#: simhash locality bound asserted by the driver check: mean hamming
#: distance over near-duplicate pairs. Random 64-bit fingerprints average
#: 32; measured near-dup pairs average ~2.5 across scale factors, so 16
#: fails only if the fingerprint function actually loses locality.
SIMHASH_NEAR_AVG_MAX = 16


def simhash_locality_check(t: Tables) -> DataFrame:
    """DuckDB-checkable claim about :func:`simhash_fingerprints` (itself
    rows-only — crc32-based): one row with the near-dup pair count (the
    capped-default :func:`ngram_jaccard_pairs` set — SQL-computable, so it
    hash-verifies) and a flag that the MEAN simhash hamming distance over
    those pairs is ≤ SIMHASH_NEAR_AVG_MAX — the locality property the
    fingerprint exists for, as a hard driver check instead of a
    test-only assertion. Empty pair set → trivially true."""
    fps = simhash_fingerprints(t)
    pairs = ngram_jaccard_pairs(t).select("id_a", "id_b")
    fa = fps.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    fb = fps.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    near = pairs.join(fa, "id_a").join(fb, "id_b").select(
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("d")
    )
    return near.agg(
        F.count("*").alias("n_pairs"),
        (
            F.coalesce(F.avg("d"), F.lit(0.0)) <= F.lit(SIMHASH_NEAR_AVG_MAX)
        ).alias("locality_ok"),
    )


def _shingle_duck(src: str = "documents", keep: str = "") -> str:
    """DuckDB twin of :func:`_shingles` and :func:`_shingle_commons`, the
    exact shingle CTE chain over the ``(doc_id, text)`` relation ``src``:
    ``s`` the distinct word-``SHINGLE_WORDS``-gram list per doc (with the
    extra column ``keep``), ``e`` one row per (doc, shingle), ``n`` the set
    sizes, ``ek`` without the shingles of df > ``AUTO_DF_CAP``, and ``p`` /
    ``pu`` the capped / uncapped ``common`` count per doc pair."""
    k = f", {keep}" if keep else ""
    gram = " || ' ' || ".join(f"ws[i + {j}]" for j in range(SHINGLE_WORDS))
    return f"""
    w AS (SELECT doc_id{k}, string_split_regex(trim(text), '\\s+') AS ws FROM {src}),
    s AS (SELECT doc_id{k},
                 list_distinct(list_transform(
                   generate_series(1, len(ws) - {SHINGLE_WORDS - 1}), i -> {gram}
                 )) AS shingles
          FROM w WHERE len(ws) >= {SHINGLE_WORDS}),
    e AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
    n AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
    hot AS (SELECT sh FROM e GROUP BY sh
            HAVING count(DISTINCT doc_id) > {_CAP_DUCK}),
    ek AS (SELECT doc_id, sh FROM e WHERE sh NOT IN (SELECT sh FROM hot)),
    p AS (SELECT e1.doc_id AS id_a, e2.doc_id AS id_b, count(*) AS common
          FROM ek e1 JOIN ek e2 ON e1.sh = e2.sh
          WHERE e1.doc_id < e2.doc_id GROUP BY 1, 2),
    pu AS (SELECT e1.doc_id AS id_a, e2.doc_id AS id_b, count(*) AS common
           FROM e e1 JOIN e e2 ON e1.sh = e2.sh
           WHERE e1.doc_id < e2.doc_id GROUP BY 1, 2)
"""


_SHINGLE_DUCK = _shingle_duck()


def _scores_duck(pairs: str = "p") -> str:
    """Every doc pair of ``pairs`` (``p`` capped, ``pu`` uncapped, after
    :func:`_shingle_duck`) with ``common``, both set sizes ``n_a``/``n_b``
    and the 4-dp ``containment`` and ``jaccard`` of
    :func:`_containment_cols` and :func:`_jaccard_from_common`."""
    return f"""
      SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
             round(common * 1.0 / least(na.n, nb.n), 4) AS containment,
             round(common * 1.0 / (na.n + nb.n - common), 4) AS jaccard
      FROM {pairs} JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id"""


def _jaccard_pairs_duck(pairs: str = "p") -> str:
    """The exact near-duplicate set: ``(id_a, id_b, jaccard)`` of the
    pairs of ``pairs`` at Jaccard ≥ ``JACCARD_THRESHOLD``."""
    return f"""
      SELECT id_a, id_b, jaccard FROM ({_scores_duck(pairs)})
      WHERE jaccard >= {JACCARD_THRESHOLD}"""


def _components_duck(pairs: str, a: str = "id_a", b: str = "id_b") -> str:
    """Min-label connected components of the pair relation ``pairs``
    (columns ``a``, ``b``) as recursive CTEs (the query starts ``WITH
    RECURSIVE``): ``comp(node, component)``, the smallest id reachable
    from each node."""
    return f"""
    edges AS (SELECT {a} AS s, {b} AS d FROM {pairs}
              UNION SELECT {b}, {a} FROM {pairs}),
    reach(node, lab) AS (
      SELECT s, s FROM edges
      UNION
      SELECT edges.d, reach.lab FROM reach JOIN edges ON edges.s = reach.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)"""


def _near_dup_components_duck(src: str = "documents") -> str:
    """The exact near-duplicate clustering of ``src`` as recursive CTEs:
    :func:`_shingle_duck`, the capped pair set ``jp`` and its
    :func:`_components_duck` ``comp``."""
    return f"""{_shingle_duck(src)},
    jp AS ({_jaccard_pairs_duck()}),
    {_components_duck("jp")}"""


def _contract_duck(exact: str, *flags: str, count: str = "count(*) AS n_exact") -> str:
    """The oracle row of an exact-vs-approximate contract check: the
    exact twin's rows ``exact`` counted by the select list ``count``, and
    every claim in ``flags`` expected TRUE."""
    claims = "".join(f", TRUE AS {f}" for f in flags)
    return f"SELECT {count}{claims} FROM ({exact})"


ORACLES: dict[str, str] = {
    "exact_dedup": """
        SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_keep_first": """
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
    """,
    # capped+refined blocking mirrored verbatim (VERDICT r10 §1): blocks
    # over ER_BLOCK_CAP are re-keyed by (block, first token); refined
    # blocks still over cap are dropped on BOTH engines.
    "name_near_dup_pairs": f"""
        WITH names AS (
          SELECT p_name, count(*) AS n,
                 split_part(p_name, ' ', 2) AS block
          FROM part GROUP BY p_name
        ),
        nv AS (SELECT * FROM names WHERE block <> ''),
        bsz AS (SELECT block, count(*) AS c FROM nv GROUP BY block),
        small AS (SELECT nv.p_name, nv.n, nv.block
                  FROM nv JOIN bsz USING (block) WHERE c <= {ER_BLOCK_CAP}),
        big AS (SELECT nv.p_name, nv.n,
                       nv.block || '|' || split_part(nv.p_name, ' ', 1)
                         AS rblock
                FROM nv JOIN bsz USING (block) WHERE c > {ER_BLOCK_CAP}),
        rsz AS (SELECT rblock, count(*) AS c FROM big GROUP BY rblock),
        rok AS (SELECT big.p_name, big.n, big.rblock
                FROM big JOIN rsz USING (rblock) WHERE c <= {ER_BLOCK_CAP}),
        cand AS (
          SELECT a.p_name AS name_a, a.n AS n_a,
                 b.p_name AS name_b, b.n AS n_b
          FROM small a JOIN small b
            ON a.block = b.block AND a.p_name < b.p_name
          UNION ALL
          SELECT a.p_name, a.n, b.p_name, b.n
          FROM rok a JOIN rok b
            ON a.rblock = b.rblock AND a.p_name < b.p_name
        )
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist,
               CAST(n_a * n_b AS BIGINT) AS n_pairs
        FROM cand WHERE levenshtein(name_a, name_b) <= {NAME_EDIT_MAX}
        UNION ALL
        SELECT p_name, p_name, 0, CAST(n * (n - 1) / 2 AS BIGINT)
        FROM nv
    """,
    "near_dup_threshold_sweep_check": f"""
        WITH {_SHINGLE_DUCK},
        sc AS ({_scores_duck()}),
        th AS (SELECT unnest([{", ".join(str(x) for x in SWEEP_THETAS_PCT)}])
                        AS theta_pct),
        hits AS (SELECT theta_pct, id_a, id_b
                 FROM sc JOIN th
                   ON jaccard >= theta_pct / 100.0),
        pairs_per AS (SELECT theta_pct, count(*) AS n_pairs
                      FROM hits GROUP BY 1),
        docs_per AS (SELECT theta_pct, count(DISTINCT d) AS n_docs_in_pairs
                     FROM (SELECT theta_pct, id_a AS d FROM hits
                           UNION ALL SELECT theta_pct, id_b FROM hits)
                     GROUP BY 1)
        SELECT CAST(th.theta_pct AS INTEGER) AS theta_pct,
               CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(n_docs_in_pairs, 0) AS BIGINT)
                 AS n_docs_in_pairs
        FROM th LEFT JOIN pairs_per ON th.theta_pct = pairs_per.theta_pct
                LEFT JOIN docs_per ON th.theta_pct = docs_per.theta_pct
    """,
    "ngram_jaccard_pairs": f"WITH {_SHINGLE_DUCK} {_jaccard_pairs_duck()}",
    "dedup_graph_stats": f"""
        WITH {_SHINGLE_DUCK},
        jp AS ({_jaccard_pairs_duck()}),
        deg AS (
          SELECT node, count(*) AS d
          FROM (SELECT id_a AS node FROM jp
                UNION ALL SELECT id_b FROM jp)
          GROUP BY node
        ),
        wd AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg
        ),
        tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM jp p1 JOIN jp p2 ON p1.id_b = p2.id_a
               JOIN jp p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
        ),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM jp)
        SELECT np.n_pairs, wd.n_nodes, tr.n_triangles, wd.n_wedges,
               CASE WHEN wd.n_wedges > 0
                    THEN CAST(3 * tr.n_triangles * 10000 // wd.n_wedges
                              AS BIGINT) END AS transitivity_bp
        FROM np, wd, tr
    """,
    # minhash_lsh_pairs / simhash_fingerprints:
    # xxhash64-based — rows-only driver check; minhash_recall_check below
    # turns the subset + recall contract into a hard driver check.
    "minhash_recall_check": _contract_duck(
        f"WITH {_SHINGLE_DUCK} {_jaccard_pairs_duck('pu')}", "subset_ok", "recall_ok"
    ),
    # incremental_minhash_pairs: xxhash64-based → rows-only; the check
    # below is its hard driver-checked contract.
    "incremental_ingest_check": _contract_duck(
        f"""WITH {_SHINGLE_DUCK} SELECT * FROM ({_jaccard_pairs_duck('pu')})
        WHERE (id_a % {INCR_BATCH_MOD} = 0) != (id_b % {INCR_BATCH_MOD} = 0)""",
        "subset_ok",
        "recall_ok",
        count="count(*) AS n_exact_cross",
    ),
    # simhash_near_dup_pairs: rows-only (crc32 fingerprints); the band
    # check's doc counts are SQL-recomputable and the oracle expects both
    # pigeonhole flags TRUE — the completeness contract as data.
    # n_excluded = token-less docs (NULL text or no non-whitespace
    # character — the NULL-fingerprint degenerate condition, ADVICE r10); ASCII
    # whitespace on both engines, pinned by test on constructed frames.
    "simhash_band_check": _contract_duck(
        "SELECT text FROM documents",
        "complete_ok",
        "subset_ok",
        count="count(*) AS n_docs, count(*) FILTER (WHERE text IS NULL"
        " OR NOT regexp_matches(text, '\\S')) AS n_excluded",
    ),
    # containment_pairs_banded: xxhash64 band candidates → rows-only;
    # containment_recall_check is its hash-green contract (UNCAPPED
    # exact count + subset + recall flags — see the cap-asymmetry note
    # in containment_pairs)
    "containment_recall_check": _contract_duck(
        f"""WITH {_SHINGLE_DUCK} SELECT * FROM ({_scores_duck('pu')})
        WHERE containment >= {CONTAINMENT_MIN}""",
        "subset_ok",
        "recall_ok",
    ),
    "containment_pairs": f"""
        WITH {_SHINGLE_DUCK}
        SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               containment, jaccard
        FROM ({_scores_duck()}) WHERE containment >= {CONTAINMENT_MIN}
    """,
}
ORACLES["simhash_locality_check"] = _contract_duck(
    ORACLES["ngram_jaccard_pairs"], "locality_ok", count="count(*) AS n_pairs"
)


def dedup_graph_stats(t: Tables) -> DataFrame:
    """Structure report over the near-dup pair graph: pair / node /
    triangle / wedge counts and the global transitivity (clustering)
    coefficient in basis points — the health check that tells you whether
    near-duplicate similarity is behaving transitively (clean duplicate
    clusters → transitivity near 10000) or the threshold is admitting
    chainy false positives (low transitivity → clusters built from these
    pairs will over-merge).

    Scale shape: everything downstream of pair discovery runs on the PAIR
    graph, which is ≪ corpus (same argument as :func:`~streamming_processing_pyspark_spark.operators.pipeline.dedup_clusters`).
    Triangles are one two-hop equi-join closed by a second equi-join on
    the (a, c) pair set — with pairs stored a<b, every triangle a<b<c is
    counted exactly once. Wedges come from the degree table (Σ d·(d−1)/2,
    integer). Transitivity = 3·triangles·10⁴ div wedges — all-integer, so
    the DuckDB oracle hash-matches.
    """
    pairs = ngram_jaccard_pairs(t).select("id_a", "id_b").localCheckpoint()
    n_pairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    wedge = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    p1 = pairs.toDF("a", "b")
    p2 = pairs.toDF("b", "c")
    p3 = pairs.toDF("a", "c")
    tri = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        n_pairs.crossJoin(wedge)
        .crossJoin(tri)
        .select(
            "n_pairs",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN 3 * n_triangles * 10000 DIV n_wedges END"
            ).alias("transitivity_bp"),
        )
    )


def source_overlap_matrix(t: Tables) -> DataFrame:
    """Pairwise shingle overlap between sources — the corpus-composition
    diagnostic run before mixing: which crawls/dumps duplicate each
    other, and how badly (cross-source contamination drives both wasted
    tokens and train/eval leakage when splits are drawn by source).

    Shape: per-doc distinct 3-gram shingles (the Arrow-batched shingler
    shared with the dedup ladder) → distinct (source, shingle) pairs →
    equi-join on shingle with ``source_a < source_b`` → one count per
    source pair, joined to broadcast per-source set sizes for the exact
    Jaccard in integer basis points. The shingle join's fan-out per
    shingle is bounded by the number of sources holding it (≤ |sources|,
    20 here); for web-scale *domain* counts the frequent-shingle cap
    from :func:`ngram_jaccard_pairs` applies unchanged. Everything past
    the distinct is |sources|²-sized, i.e. tiny.
    """
    from ..tables import persist_replacing

    src = t["documents"].select("doc_id", "source")
    # persisted: ss feeds the self-join (both sides) AND the sizes frame —
    # without the pin each consumer re-runs the Arrow shingler scan
    # (plan audit showed 4 documents scans; with it, one)
    ss = persist_replacing(
        _exploded_shingles(t["documents"])
        .join(src, "doc_id")
        .select("source", "sh")
        .distinct(),
        "source_shingles",
    )
    sizes = ss.groupBy("source").agg(F.count("*").alias("n_sh"))
    pairs = (
        ss.alias("a")
        .join(
            ss.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = F.broadcast(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_sh", "n_a"))
    sb = F.broadcast(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_sh", "n_b"))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "10000 * n_common DIV (n_a + n_b - n_common)"
            ).alias("jaccard_bp"),
        )
    )


def shingle_novelty_scores(t: Tables) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct 3-gram
    shingles NOT already seen in any earlier document (by doc_id — the
    ingest order in this dataset). The redundancy-growth curve curation
    teams watch: when marginal novelty collapses, additional crawl of
    that source is pure dedup fodder.

    One pass, no join, no persist: a partition-only window over the
    exploded shingles marks each occurrence against its shingle's
    first-seen doc (``min(doc_id) over (partition by sh)``), then a
    per-doc aggregate emits counts and the novel share in integer basis
    points. Two shuffles total (shingle window + doc aggregate), both on
    narrow rows — at 100 TB "first seen" would be defined against a
    corpus index epoch rather than doc_id order, same plan.
    """
    from pyspark.sql import Window

    e = _exploded_shingles(t["documents"])
    w = Window.partitionBy("sh")
    marked = e.select(
        "doc_id",
        (F.min("doc_id").over(w) < F.col("doc_id")).alias("seen_before"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((~F.col("seen_before")).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("10000 * n_novel DIV n_shingles").alias("novel_bp"),
        )
    )


QUERIES = {
    "exact_dedup": exact_dedup,
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "er_candidate_pairs": er_candidate_pairs,
    "er_match_scores": er_match_scores,
    "er_entity_clusters": er_entity_clusters,
    "er_match_clusters": er_match_clusters,
    "source_overlap_matrix": source_overlap_matrix,
    "shingle_novelty_scores": shingle_novelty_scores,
    "dedup_graph_stats": dedup_graph_stats,
    "dedup_keep_first": dedup_keep_first,
    "name_near_dup_pairs": name_near_dup_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "near_dup_threshold_sweep": near_dup_threshold_sweep,
    "near_dup_threshold_sweep_check": near_dup_threshold_sweep_check,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "minhash_recall_check": minhash_recall_check,
    "incremental_minhash_pairs": incremental_minhash_pairs,
    "incremental_ingest_check": incremental_ingest_check,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_locality_check": simhash_locality_check,
    "simhash_near_dup_pairs": simhash_near_dup_pairs,
    "simhash_band_check": simhash_band_check,
    "containment_pairs": containment_pairs,
    "containment_pairs_banded": containment_pairs_banded,
    "containment_recall_check": containment_recall_check,
}

ORACLES["source_overlap_matrix"] = f"""
    WITH {_shingle_duck(keep="source")},
    ss AS (SELECT DISTINCT source, unnest(shingles) AS sh FROM s),
    sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source),
    sp AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           n_common,
           CAST(10000 * n_common // (sa.n_sh + sb.n_sh - n_common) AS BIGINT)
             AS jaccard_bp
    FROM sp
    JOIN sizes sa ON sa.source = sp.source_a
    JOIN sizes sb ON sb.source = sp.source_b
"""

ORACLES["shingle_novelty_scores"] = f"""
    WITH {_SHINGLE_DUCK},
    m AS (
      SELECT doc_id,
             (min(doc_id) OVER (PARTITION BY sh) < doc_id) AS seen_before
      FROM e
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN seen_before THEN 0 ELSE 1 END) AS BIGINT)
             AS n_novel,
           CAST(10000 * sum(CASE WHEN seen_before THEN 0 ELSE 1 END)
                // count(*) AS BIGINT) AS novel_bp
    FROM m GROUP BY doc_id
"""

ORACLES["sorted_neighborhood_pairs"] = f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    nb AS (
      SELECT p_name AS name_a,
             unnest([{", ".join(
               f"lead(p_name, {k}) OVER (ORDER BY p_name)"
               for k in range(1, SN_WINDOW)
             )}]) AS name_b
      FROM names
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
    FROM nb
    WHERE name_b IS NOT NULL
      AND levenshtein(name_a, name_b) <= {NAME_EDIT_MAX}
"""

ORACLES["er_candidate_pairs"] = f"""
    WITH sn AS ({ORACLES["sorted_neighborhood_pairs"]}),
    blocks AS (SELECT p_name, split_part(p_name, ' ', 2) AS block
               FROM (SELECT DISTINCT p_name FROM part)
               WHERE split_part(p_name, ' ', 2) <> ''),
    tbsz AS (SELECT block, count(*) AS c FROM blocks GROUP BY block),
    tsmall AS (SELECT blocks.p_name, blocks.block
               FROM blocks JOIN tbsz USING (block)
               WHERE c <= {ER_BLOCK_CAP}),
    tbig AS (SELECT blocks.p_name,
                    blocks.block || '|' || split_part(blocks.p_name, ' ', 1)
                      AS rblock
             FROM blocks JOIN tbsz USING (block) WHERE c > {ER_BLOCK_CAP}),
    trsz AS (SELECT rblock, count(*) AS c FROM tbig GROUP BY rblock),
    trok AS (SELECT tbig.p_name, tbig.rblock
             FROM tbig JOIN trsz USING (rblock) WHERE c <= {ER_BLOCK_CAP}),
    tcand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM tsmall a JOIN tsmall b
        ON a.block = b.block AND a.p_name < b.p_name
      UNION ALL
      SELECT a.p_name, b.p_name
      FROM trok a JOIN trok b
        ON a.rblock = b.rblock AND a.p_name < b.p_name
    ),
    tb AS (
      SELECT name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
      FROM tcand
      WHERE levenshtein(name_a, name_b) <= {NAME_EDIT_MAX}
    )
    SELECT DISTINCT name_a, name_b, edit_dist
    FROM (SELECT * FROM sn UNION ALL SELECT * FROM tb)
"""

ORACLES["er_match_scores"] = f"""
    WITH cand AS ({ORACLES["er_candidate_pairs"]}),
    scored AS (
      SELECT name_a, name_b, edit_dist,
             CAST((CASE edit_dist WHEN 1 THEN {ER_W_EDIT[1]}
                                  WHEN 2 THEN {ER_W_EDIT[2]}
                                  ELSE {ER_W_EDIT[3]} END)
                  + (CASE WHEN substr(name_a, 1, 6) = substr(name_b, 1, 6)
                          THEN {ER_W_PREFIX} ELSE 0 END)
                  + (CASE WHEN split_part(name_a, ' ', 1)
                               = split_part(name_b, ' ', 1)
                          THEN {ER_W_TOKEN} ELSE 0 END)
                  + (CASE WHEN split_part(name_a, ' ', -1)
                               = split_part(name_b, ' ', -1)
                          THEN {ER_W_SUFFIX} ELSE 0 END) AS BIGINT) AS score
      FROM cand
    )
    SELECT name_a, name_b, edit_dist, score,
           CASE WHEN score >= {ER_MATCH_MIN} THEN 'match'
                WHEN score >= {ER_POSSIBLE_MIN} THEN 'possible'
                ELSE 'weak' END AS tier
    FROM scored
"""


def _er_clusters_duck(linked: str) -> str:
    """DuckDB twin of :func:`_er_clusters`: the min-label entity of every
    name in an ``er_match_scores`` pair whose tier passes ``linked``."""
    return f"""
    WITH RECURSIVE er AS ({ORACLES["er_match_scores"]}),
    jp AS (SELECT name_a, name_b FROM er WHERE {linked}),
    {_components_duck("jp", "name_a", "name_b")}
    SELECT node AS p_name, component AS entity_id FROM comp
"""


ORACLES["er_entity_clusters"] = _er_clusters_duck("tier <> 'weak'")
ORACLES["er_match_clusters"] = _er_clusters_duck("tier = 'match'")
