"""Pure-Python ground truth computed from the generator's own fleet, and the
checks that compare the engine's outputs against it.

Nothing here imports the engine: expected gold rows come from a backward
as-of over the fleet's own messages, zone membership from the benchmark's
own ray casting over ``tss_zones.json``.
"""

from __future__ import annotations

import bisect
from collections import Counter, defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd

from aisbench.fleet import Fleet, load_zones

GOLD_TYPES = (1, 2, 3, 5, 24)
POSITION_TYPES = (1, 2, 3)
STATIC_COLS = ["shipName", "shipType", "callsign", "destination", "draught"]
GOLD_COLS = ["mmsi", "ts", "longitude", "latitude", "sog", "cog", "trueHeading",
             *STATIC_COLS, "ts_right"]
FLOAT_TOL = 1e-9


def expected_counts(fleet: Fleet) -> Counter:
    """Valid messages per AIS message type."""
    return Counter(m.mtype for m in fleet.messages if m.valid)


def expected_gold(fleet: Fleet) -> pd.DataFrame:
    """One row per valid position (types 1/2/3) carrying the latest static
    record (type 5 or 24) of the same vessel at or before its time — a
    backward-inclusive as-of join in which statics win ties."""
    statics: dict[int, list] = defaultdict(list)
    for m in fleet.messages:
        if m.valid and m.static is not None:
            statics[m.mmsi].append((m.t, m.static))
    for lst in statics.values():
        lst.sort(key=lambda x: x[0])
    keys = {k: [t for t, _ in v] for k, v in statics.items()}
    none = (None,) * len(STATIC_COLS)
    rows = []
    for m in fleet.messages:
        if not (m.valid and m.mtype in POSITION_TYPES):
            continue
        lst = statics.get(m.mmsi)
        i = bisect.bisect_right(keys[m.mmsi], m.t) - 1 if lst else -1
        rec, ts_right = (lst[i][1], lst[i][0]) if i >= 0 else (none, None)
        rows.append((m.mmsi, m.t, *m.pos, *rec, ts_right))
    return pd.DataFrame(rows, columns=GOLD_COLS)


def _in_ring(x: np.ndarray, y: np.ndarray, ring: list[list[float]]) -> np.ndarray:
    """Even-odd ray casting, half-open on the boundary: toggle on every
    edge that spans ``y`` and lies east of the point."""
    inside = np.zeros(len(x), dtype=bool)
    for (px, py), (qx, qy) in zip(ring[:-1], ring[1:]):
        if py == qy:
            continue
        slope = (qx - px) / (qy - py)
        inside ^= ((py > y) != (qy > y)) & (x < slope * (y - py) + px)
    return inside


def expected_occupancy(gold: pd.DataFrame) -> dict[int, tuple[int, int]]:
    """zone_id -> (distinct vessels, position reports) inside the zone."""
    x = gold["longitude"].to_numpy(dtype=float)
    y = gold["latitude"].to_numpy(dtype=float)
    out = {}
    for z in load_zones():
        inside = _in_ring(x, y, z["coordinates"])
        out[z["zone_id"]] = (int(gold["mmsi"][inside].nunique()), int(inside.sum()))
    return out


def expected_tables(fleet: Fleet) -> dict[str, int]:
    """Rows each warehouse fact table should receive."""
    n = expected_counts(fleet)
    return {
        "ais_position": sum(n[t] for t in POSITION_TYPES),
        "ais_static": n[5],
        "ais_type21": n[21],
        "ais_type6_533": sum(
            1 for m in fleet.messages
            if m.valid and m.mtype == 6 and m.dac_fid and m.dac_fid[0] == 533
            and m.dac_fid[1] in (1, 2, 4)
        ),
    }


@dataclass
class Check:
    """Outcome of comparing one output with the truth: ``attempted``
    expected items, ``failed`` of them missing or wrong, ``extra`` output
    items the truth does not have."""

    attempted: int
    failed: int
    extra: int = 0

    @property
    def ok(self) -> bool:
        return self.failed == 0 and self.extra == 0

    def __add__(self, other: "Check") -> "Check":
        return Check(self.attempted + other.attempted, self.failed + other.failed,
                     self.extra + other.extra)


def _same(a: pd.Series, b: pd.Series) -> np.ndarray:
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        fa = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
        fb = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
        both_nan = np.isnan(fa) & np.isnan(fb)
        return both_nan | (np.abs(fa - fb) <= FLOAT_TOL)
    na, nb = a.isna().to_numpy(), b.isna().to_numpy()
    eq = (a.astype(object).to_numpy() == b.astype(object).to_numpy())
    return (na & nb) | (~na & ~nb & eq)


def check_gold(actual: pd.DataFrame, expected: pd.DataFrame) -> Check:
    """Row-by-row comparison keyed by (mmsi, ts). ``actual`` holds the gold
    columns with ``ts``/``ts_right`` as epoch seconds."""
    a = actual[GOLD_COLS].sort_values(["mmsi", "ts"]).reset_index(drop=True)
    e = expected.sort_values(["mmsi", "ts"]).reset_index(drop=True)
    merged = e.merge(a, on=["mmsi", "ts"], how="outer", suffixes=("_e", "_a"), indicator=True)
    missing = int((merged["_merge"] == "left_only").sum())
    extra = int((merged["_merge"] == "right_only").sum())
    both = merged[merged["_merge"] == "both"]
    ok = np.ones(len(both), dtype=bool)
    for c in GOLD_COLS[2:]:
        ok &= _same(both[f"{c}_e"], both[f"{c}_a"])
    return Check(attempted=len(e), failed=missing + int((~ok).sum()), extra=extra)


def check_occupancy(actual: dict[int, tuple[int, int]], expected: dict[int, tuple[int, int]]) -> Check:
    wrong = sum(1 for z, v in expected.items() if actual.get(z) != v)
    extra = sum(1 for z in actual if z not in expected)
    return Check(attempted=len(expected), failed=wrong, extra=extra)
