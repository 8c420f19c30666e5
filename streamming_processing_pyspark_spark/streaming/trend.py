"""Cross-batch stateful trend detection — applyInPandasWithState.

The reference's Task4 detects a trend only when window W and window W−10min
are updated in the *same* micro-batch (update-mode self-join inside
foreachBatch — SURVEY.md §3.2 step 4). This operator keeps per-key window
counts in state, so a trend is detected regardless of how file arrival
slices the data across batches — the deterministic semantics the reference
lacked, kept as a separate operator so reference-compat per-batch detection
(streaming/jobs.detect_trends_in_batch) remains available.

Emission is at-most-once per (key, window): a window is emitted the first
time the trend condition becomes true for it. State is bounded by eviction:
windows older than ``retention_windows`` behind the max seen window are
dropped (the watermark analogue for this hand-rolled state).

``applyInPandasWithState`` is the one stateful API used. Spark 4's
``transformWithStateInPandas`` would carry the same :func:`_trend_step`,
but its state-server protocol needs the ``protobuf`` package, which this
build does not ship.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("window_start", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("prev_cnt", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("emitted", T.ArrayType(T.LongType())),
    ]
)


def _bucket_counts(windows: dict, pdf_iter: Iterator, window_seconds: int) -> None:
    """Add every row's ``ts`` (ns) window bucket to the per-window counts
    ``windows`` (window start in epoch seconds → count)."""
    for pdf in pdf_iter:
        secs = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        for s in secs:
            w = int(s // window_seconds * window_seconds)
            windows[w] = windows.get(w, 0) + 1


def _trend_core(windows: dict, emitted_set: set, window_seconds: int,
                min_count: int, retention_windows: int):
    """The trend rule and its state eviction (run by :func:`_trend_step`).
    A window trends when it has ≥ ``min_count`` rows and at least
    twice its predecessor's count; each trending window is emitted once
    (``emitted_set``). Windows older than ``retention_windows`` behind the
    newest are evicted. Returns (rows (w, cnt, prev_cnt), windows,
    emitted_set)."""
    out = []
    for w, c in sorted(windows.items()):
        prev = windows.get(w - window_seconds)
        if (
            prev is not None
            and w not in emitted_set
            and c >= min_count
            and c - prev >= prev
        ):
            emitted_set.add(w)
            out.append((w, c, prev))
    if windows:
        horizon = max(windows) - retention_windows * window_seconds
        windows = {w: c for w, c in windows.items() if w >= horizon}
        emitted_set = {w for w in emitted_set if w >= horizon}
    return out, windows, emitted_set


def _trend_step(key, prior, rows: Iterator, window_seconds: int,
                min_count: int, retention_windows: int):
    """One state update: decode the stored ``(starts, counts, emitted)``
    tuple ``prior`` (``None`` for a new key), add ``rows``' window
    buckets, apply :func:`_trend_core`, and encode the state again. Returns (state tuple, pandas output frame —
    ``None`` when nothing trends)."""
    import pandas as pd

    if prior is not None:
        starts, counts, emitted = prior
        windows, emitted_set = dict(zip(starts, counts)), set(emitted)
    else:
        windows, emitted_set = {}, set()
    _bucket_counts(windows, rows, window_seconds)
    out, windows, emitted_set = _trend_core(
        windows, emitted_set, window_seconds, min_count, retention_windows
    )
    state = (list(windows), [windows[w] for w in windows], list(emitted_set))
    frame = None
    if out:
        frame = pd.DataFrame(
            [(key[0], w, c, p) for (w, c, p) in out],
            columns=["key", "window_start", "cnt", "prev_cnt"],
        )
    return state, frame


def make_trend_fn(
    window_seconds: int = 600, min_count: int = 10, retention_windows: int = 1000
):
    def fn(key, pdf_iter: Iterator, state) -> Iterator:
        new_state, frame = _trend_step(
            key, state.get if state.exists else None, pdf_iter,
            window_seconds, min_count, retention_windows,
        )
        state.update(new_state)
        if frame is not None:
            yield frame

    return fn


def trending_stateful(
    keyed: DataFrame,
    key_col: str = "headquarters",
    ts_col: str = "dropoff_ts",
    window_seconds: int = 600,
    min_count: int = 10,
) -> DataFrame:
    """Cross-batch trending over a keyed event stream.

    ``keyed`` must have ``key_col`` and timestamp ``ts_col``; output rows are
    (key, window_start(ts), cnt, prev_cnt) emitted when the trend condition
    first becomes true for that window.
    """
    result = (
        keyed.select(F.col(key_col).alias("key"), F.col(ts_col).alias("ts"))
        .groupBy("key")
        .applyInPandasWithState(
            make_trend_fn(window_seconds, min_count),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
    # window_start is epoch seconds in OUTPUT_SCHEMA; hand it back as a timestamp
    return result.select(
        "key",
        F.timestamp_seconds("window_start").alias("window_start"),
        "cnt",
        "prev_cnt",
    )
