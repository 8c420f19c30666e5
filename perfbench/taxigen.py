"""Seeded NYC-taxi minute-file generator for the taxi workload.

Each minute-file holds the trips whose drop-off falls in one minute, as
headerless CSV mixing the two row shapes the package's taxi source reads:
yellow rows with 20 fields (drop-off stamped to the minute) and green rows
with 22 fields (drop-off to the second). A small share of rows are out of
order: their drop-off lies 10 to 40 minutes before the file's minute.

The generator classifies every drop-off point itself, with its own
even-odd ray cast over the two geofences, and keeps the expected count per
(10-minute window, geofence) as it writes. Hit points are drawn only where
the classification is stable under a small nudge in every direction, so
the tally cannot depend on rounding at a polygon edge.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

# Geofence vertices, [lon, lat], first match wins (goldman, then citigroup).
GEOFENCES = {
    "goldman": [
        (-74.0141012, 40.7152191),
        (-74.013777, 40.7152275),
        (-74.0141027, 40.7138745),
        (-74.0144185, 40.7140753),
    ],
    "citigroup": [
        (-74.011869, 40.7217236),
        (-74.009867, 40.721493),
        (-74.010140, 40.720053),
        (-74.012083, 40.720267),
    ],
}
DAY0_S = 1448928000  # 2015-12-01 00:00:00 UTC
_NUDGE = 2e-6


def _inside(x: float, y: float, poly) -> bool:
    hit = False
    for i in range(len(poly)):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % len(poly)]
        if y1 != y2 and (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            hit = not hit
    return hit


def classify(x: float, y: float) -> str:
    for name, poly in GEOFENCES.items():
        if _inside(x, y, poly):
            return name
    return "none"


def _stable_points(rng, name: str, n: int) -> np.ndarray:
    poly = GEOFENCES[name]
    xs, ys = zip(*poly)
    out: list[tuple[float, float]] = []
    while len(out) < n:
        x = float(rng.uniform(min(xs), max(xs)))
        y = float(rng.uniform(min(ys), max(ys)))
        if all(
            classify(x + dx, y + dy) == name
            for dx in (-_NUDGE, 0.0, _NUDGE)
            for dy in (-_NUDGE, 0.0, _NUDGE)
        ):
            out.append((x, y))
    return np.array(out)


@dataclass(frozen=True)
class Mix:
    """Input properties a workload fixes."""

    rows_per_file: int = 300
    hit_share: float = 0.05  # rows dropped off inside a geofence
    goldman_share: float = 0.8  # of the hits; the rest are citigroup
    late_share: float = 0.03  # rows whose drop-off is 10-40 min early
    green_share: float = 0.11


@dataclass
class TaxiGen:
    """Minute-file writer; ``tally`` maps (10-minute window start in epoch
    seconds, geofence) to the number of rows written for it."""

    seed: int
    mix: Mix = Mix()
    tally: Counter = field(default_factory=Counter)
    rows: int = 0

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.pools = {g: _stable_points(self.rng, g, 64) for g in GEOFENCES}

    def minute_csv(self, minute: int) -> str:
        """CSV text of one minute-file; adds its rows to the tally."""
        m, rng = self.mix, self.rng
        n = m.rows_per_file
        green = rng.random(n) < m.green_share
        late = rng.random(n) < m.late_share
        drop = (
            (DAY0_S + 60 * minute)
            + np.where(green, rng.integers(0, 60, n), 0)
            - 60 * np.where(late, rng.integers(10, 41, n), 0)
        )
        pick = drop - 60 * rng.integers(2, 40, n)
        hit = rng.random(n) < m.hit_share
        gold = rng.random(n) < m.goldman_share
        slot = rng.integers(0, 64, n)
        x = rng.uniform(-74.02, -73.93, n)
        y = rng.uniform(40.725, 40.80, n)
        for hq, mask in (("goldman", hit & gold), ("citigroup", hit & ~gold)):
            x[mask] = self.pools[hq][slot[mask], 0]
            y[mask] = self.pools[hq][slot[mask], 1]
        hq = np.where(hit, np.where(gold, "goldman", "citigroup"), "none")
        self.tally.update(zip((drop - drop % 600).tolist(), hq.tolist()))
        fare = np.round(rng.uniform(3, 60, n), 2)
        drop_ts, pick_ts = (
            np.char.replace(np.datetime_as_string(a.astype("datetime64[s]")), "T", " ")
            for a in (drop, pick)
        )
        lines = []
        for g, pt, dt, xi, yi, f in zip(green, pick_ts, drop_ts, x.tolist(), y.tolist(), fare.tolist()):
            px, py = xi + 0.01, yi - 0.01
            if g:
                lines.append(
                    f"green,2,{pt},{dt},N,1,{px!r},{py!r},{xi!r},{yi!r},1,"
                    f"2.18,{f},0,0.5,1.96,0,,0.3,{f + 2.76:.2f},1,1"
                )
            else:
                lines.append(
                    f"yellow,1,{pt},{dt},1,2.30,{px!r},{py!r},1,N,{xi!r},{yi!r},"
                    f"2,{f},0,0.5,0,0,0.3,{f + 0.8:.2f}"
                )
        self.rows += n
        return "\n".join(lines) + "\n"

    def write_backlog(self, out_dir: str, first_minute: int, n_files: int) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for k in range(n_files):
            minute = first_minute + k
            with open(os.path.join(out_dir, f"part-{minute:06d}.csv"), "w") as f:
                f.write(self.minute_csv(minute))
