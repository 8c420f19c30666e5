"""Diversity-based coreset selection over the embedding table: greedy
k-center (farthest-point traversal) on a fixed-size candidate pool, then
a distributed assignment/radius pass — the data-efficient-finetuning
subset-selection pattern (pick k maximally-diverse exemplars, report how
well they cover the corpus).

Why this shape at 100 TB: greedy k-center is inherently sequential (each
pick depends on all previous picks), so running it over the corpus would
serialize k full scans. The production pattern separates concerns:

1. POOL — a deterministic pseudo-random fixed-size candidate pool via
   ``TakeOrdered`` on a Lehmer permutation of ``vec_id`` (per-partition
   heaps; pool size is corpus-independent, so the driver-side state
   never grows with the data).
2. GREEDY — exact farthest-point traversal over the pool on the driver
   (O(k·POOL) float ops on ≤``POOL_N`` rows — the same tiny-fixpoint
   placement as ``lm.bpe_learn_merges`` / ``preference``'s MM loop).
3. ASSIGN — ONE distributed map-only pass: every embedding row computes
   its distance to the k broadcast centers (array-literal expressions,
   no join), takes the nearest, and a map-side-combined groupBy emits
   per-center population and max radius.

Determinism: every dot product / norm is a LEFT FOLD over the dimension
index in all three engines (``functions.vectors``: ``fold_dot`` in
Python, ``dot``/``norm`` in Spark, ``dot_duck`` in DuckDB — never
``list_dot_product`` or a numpy reduction, whose summation order is
unspecified), embeddings are widened
float32→float64 (exact) first, and +,·,/ and ``sqrt`` are all
correctly-rounded IEEE ops — so distances are BIT-IDENTICAL across
engines and every argmax/argmin tie-break (``vec_id`` / center rank) is
total. ``max_radius_micro`` hash-matches exactly. A zero-norm vector
has no cosine distance: it is dropped from the pool sample and never
picked or assigned.

Reference scope note: the reference project (``/root/reference``,
Task2-4/Client.py) has no coreset surface; this extends the engine for
the training-data use case per SURVEY.md §7 phase 4.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot_duck, fold_dot, norm
from ..tables import broadcast_replacing, local_df
from .featurize import _LEHMER_MOD, _LEHMER_MUL

Tables = dict[str, DataFrame]

#: candidate-pool size (corpus-independent driver state)
POOL_N = 64

#: number of centers the greedy traversal picks
KCENTER_K = 8


def _assign_to_centers(batches, ce, cn, cv):
    """Per Arrow batch of (vec_id, e, nr) rows: the nearest center by
    cosine distance against the center vectors ``ce``, their norms ``cn``
    and vec_ids ``cv``. Zero-norm rows are never assigned, and no row is
    when there is no center. A 0-row batch is skipped: its vector matrix
    is 1-D and has no dimension axis to fold over."""
    import numpy as np

    for pdf in batches:
        pdf = pdf[pdf["nr"] > 0]  # a zero-norm row has no distance
        if pdf.empty or not len(cv):
            continue
        m = np.array(pdf["e"].tolist(), dtype="float64")
        nr = pdf["nr"].to_numpy()
        acc = np.zeros((len(m), len(ce)))
        for i in range(m.shape[1]):  # left fold over dims == fold_dot
            acc = acc + m[:, i : i + 1] * ce[:, i][None, :]
        d = 1.0 - acc / (nr[:, None] * cn[None, :])
        pick = np.argmin(d, axis=1)  # first min == lowest rank
        yield pd.DataFrame(
            {
                "center_rank": (pick + 1).astype("int32"),
                "center_vec_id": cv[pick],
                "d": d[np.arange(len(m)), pick],
            }
        )


def kcenter_coreset(t: Tables) -> DataFrame:
    """Greedy k-center coreset + coverage report.

    Output (exactly ``KCENTER_K`` rows — the picked-center list is
    left-joined back, so a center that wins no assignment still appears
    with ``n_assigned = 0`` and NULL radius): ``center_rank`` (pick
    order, 1-based), ``center_vec_id``, ``n_assigned`` (corpus rows
    nearest this center, ties to the earlier pick),
    ``max_radius_micro`` = ``floor(1e6 · max cosine distance)`` within
    the cell. The max of the
    radii is the k-center objective — the coverage guarantee the
    selected exemplars give (greedy is the classic 2-approximation).
    Seed: the pool row with the smallest ``vec_id``; each next center is
    the pool row farthest (max min-cosine-distance, ties to smaller
    ``vec_id``) from the chosen set. A pool without a nonzero-norm row
    (an empty table, or all-zero vectors) has no seed: 0 rows.
    """
    spark = t["embeddings"].sparkSession
    emb = (
        t["embeddings"]
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .select("vec_id", "e", norm(F.col("e")).alias("nr"))
    )
    pool_rows = (
        emb.orderBy(
            (F.col("vec_id") % _LEHMER_MOD) * _LEHMER_MUL % _LEHMER_MOD,
            "vec_id",
        )
        .limit(POOL_N)
        .collect()
    )
    pool = sorted(
        (r["vec_id"], list(r["e"]), r["nr"]) for r in pool_rows if r["nr"] > 0
    )
    # every distance starts infinite, so the first pick (the seed) is the
    # smallest vec_id; an empty pool picks no center
    md = {vid: math.inf for vid, _e, _nr in pool}
    centers = []
    while pool and len(centers) < KCENTER_K:
        far = max(pool, key=lambda p: (md[p[0]], -p[0]))
        centers.append(far)
        for vid, e, nr in pool:
            d = 1.0 - fold_dot(e, far[1]) / (nr * far[2])
            if d < md[vid]:
                md[vid] = d
    # ASSIGN: one map-only Arrow pass against the BROADCAST center matrix
    # (r12, VERDICT r11 §8 measured A/B). The previous form baked the
    # K×d center values in as array literals and folded the dot product
    # in Catalyst — a ~4096-literal expression tree whose PLANNING alone
    # cost ~1 s per call (job walls summed to 0.5 s of a 1.5 s query);
    # the pandas-UDF twin runs the identical left fold vectorized over
    # rows (sequential over dims, so the float summation ORDER matches
    # `fold_dot` and the DuckDB oracle exactly), then 1.0 − dot/(|x||c|) and
    # first-minimum pick — argmin's first-occurrence tie-break IS the
    # struct array_min (d, rank) ordering. Measured 1.77 → 0.60 s with
    # collected rows equal; output hash-pinned by the oracle either way.
    import numpy as np

    b = broadcast_replacing(
        spark.sparkContext,
        (
            np.array([e for _, e, _ in centers], dtype="float64"),
            np.array([nr for _, _, nr in centers], dtype="float64"),
            np.array([vid for vid, _, _ in centers], dtype="int64"),
        ),
        "coreset.kcenter_assign",
    )

    def assign_batches(batches):
        return _assign_to_centers(batches, *b.value)

    assigned = (
        emb.mapInPandas(
            assign_batches,
            schema="center_rank int, center_vec_id bigint, d double",
        )
        .groupBy("center_rank", "center_vec_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.floor(1000000 * F.max("d")).cast("long").alias(
                "max_radius_micro"
            ),
        )
    )
    # Always emit all K centers: a center that wins no assignment (its
    # pool neighborhood got claimed by a later, closer pick) would be
    # dropped by the groupBy — left-join the picked list back instead.
    center_list = local_df(
        spark,
        [(rank + 1, int(vid)) for rank, (vid, _e, _nr) in enumerate(centers)],
        "center_rank INT, center_vec_id BIGINT",
    )
    return center_list.join(
        F.broadcast(assigned), ["center_rank", "center_vec_id"], "left"
    ).select(
        "center_rank",
        "center_vec_id",
        F.coalesce("n_assigned", F.lit(0).cast("long")).alias("n_assigned"),
        "max_radius_micro",
    )


def _kcenter_oracle_sql(k: int) -> str:
    """DuckDB twin: same Lehmer pool, ``k`` unrolled farthest-point picks
    (each round folds the new center's distance into the running min via
    ``CASE WHEN d < md``), then the cross-join assignment with the
    identical left-fold distance."""
    dot_pc = dot_duck("p.e", "c.e")
    parts = [
        f"""
        WITH n AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 sqrt({dot_duck("CAST(embedding AS DOUBLE[])",
                                "CAST(embedding AS DOUBLE[])")}) AS nr
          FROM embeddings
        ),
        pool AS MATERIALIZED (
          SELECT * FROM (
            SELECT vec_id, e, nr FROM n
            ORDER BY (vec_id % {_LEHMER_MOD}) * {_LEHMER_MUL} % {_LEHMER_MOD},
                     vec_id
            LIMIT {POOL_N}
          ) WHERE nr > 0
        ),
        c1 AS MATERIALIZED (
          SELECT vec_id, e, nr FROM pool ORDER BY vec_id LIMIT 1
        ),
        m1 AS MATERIALIZED (
          SELECT p.vec_id, p.e, p.nr,
                 1.0 - {dot_pc} / (p.nr * c.nr) AS md
          FROM pool p, c1 c
        )"""
    ]
    for j in range(2, k + 1):
        parts.append(
            f"""
        , c{j} AS MATERIALIZED (
          SELECT vec_id, e, nr FROM m{j - 1}
          ORDER BY md DESC, vec_id LIMIT 1
        ),
        m{j} AS MATERIALIZED (
          SELECT p.vec_id, p.e, p.nr,
                 CASE WHEN 1.0 - {dot_pc} / (p.nr * c.nr) < p.md
                      THEN 1.0 - {dot_pc} / (p.nr * c.nr)
                      ELSE p.md END AS md
          FROM m{j - 1} p, c{j} c
        )"""
        )
    centers_union = "\n            UNION ALL ".join(
        f"SELECT {j} AS center_rank, vec_id, e, nr FROM c{j}"
        for j in range(1, k + 1)
    )
    parts.append(
        f"""
        , centers AS MATERIALIZED (
            {centers_union}
        ),
        d AS (
          SELECT a.vec_id,
                 c.center_rank,
                 c.vec_id AS center_vec_id,
                 1.0 - {dot_duck("a.e", "c.e")} / (a.nr * c.nr)
                   AS dist
          FROM n a CROSS JOIN centers c
          WHERE a.nr > 0
        ),
        best AS (
          SELECT vec_id, center_rank, center_vec_id, dist FROM d
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, center_rank) = 1
        )
        , g AS (
          SELECT center_rank,
                 CAST(count(*) AS BIGINT) AS n_assigned,
                 CAST(floor(1000000 * max(dist)) AS BIGINT)
                   AS max_radius_micro
          FROM best GROUP BY center_rank
        )
        SELECT c.center_rank,
               c.vec_id AS center_vec_id,
               CAST(coalesce(g.n_assigned, 0) AS BIGINT) AS n_assigned,
               g.max_radius_micro
        FROM centers c LEFT JOIN g USING (center_rank)"""
    )
    return "".join(parts)


QUERIES = {
    "kcenter_coreset": kcenter_coreset,
}

ORACLES: dict[str, str] = {
    "kcenter_coreset": _kcenter_oracle_sql(KCENTER_K),
}
