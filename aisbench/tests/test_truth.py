"""The ground truth catches what it must, and the inputs keep their shape."""

from __future__ import annotations

import os
import socket
import time

import pandas as pd
import pytest

from aisbench import day_archive as D
from aisbench import fleet as F
from aisbench import truth as T
from aisbench.feed import play, timed_lines


@pytest.fixture(scope="module")
def fleet():
    fl = F.generate(3)
    fl.render(split_bytes=D.SPLIT_BYTES)
    return fl


def test_gold_check_accepts_the_truth_itself(fleet):
    gold = T.expected_gold(fleet)
    assert T.check_gold(gold, gold).ok
    assert gold["ts_right"].notna().any() and gold["ts_right"].isna().any()


def test_a_dropped_position_is_caught(fleet):
    gold = T.expected_gold(fleet)
    check = T.check_gold(gold.drop(index=gold.index[len(gold) // 2]), gold)
    assert (check.attempted, check.failed, check.extra) == (len(gold), 1, 0)


def test_a_dropped_static_message_is_caught(fleet):
    """Losing one type 5 changes the static record (and its time) that the
    vessel's following positions carry."""
    gold = T.expected_gold(fleet)
    i = next(k for k, m in enumerate(fleet.messages)
             if m.valid and m.mtype == 5 and any(
                 p.mmsi == m.mmsi and p.t >= m.t and p.pos for p in fleet.messages))
    lossy = F.Fleet(fleet.seed, messages=fleet.messages[:i] + fleet.messages[i + 1:])
    check = T.check_gold(T.expected_gold(lossy), gold)
    assert check.failed >= 1


def test_a_wrong_value_is_caught(fleet):
    gold = T.expected_gold(fleet)
    bad = gold.copy()
    bad.loc[bad.index[0], "latitude"] += 1e-6
    assert T.check_gold(bad, gold).failed == 1
    bad = gold.copy()
    bad.loc[bad["destination"].notna().idxmax(), "destination"] = "NOWHERE"
    assert T.check_gold(bad, gold).failed == 1


def test_occupancy_check(fleet):
    occ = T.expected_occupancy(T.expected_gold(fleet))
    assert T.check_occupancy(occ, occ).ok
    wrong = {z: (n - 1, r) for z, (n, r) in occ.items()}
    assert T.check_occupancy(wrong, occ).failed == len(occ)


def test_ray_casting_is_half_open():
    ring = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    import numpy as np

    x = np.array([1.0, 3.0, 1.0, -0.5])
    y = np.array([1.0, 1.0, 2.5, 1.0])
    assert T._in_ring(x, y, ring).tolist() == [True, False, False, False]


def test_day_archive_shape(fleet):
    """The archive is nothing like the 2-vessel golden loop: far more gold
    MMSIs than cores, crowded zones, and a 2-part group across every split
    boundary."""
    gold = T.expected_gold(fleet)
    D.check_shape(fleet, gold, T.expected_occupancy(gold))
    size = sum(len(line) + 1 for line in fleet.lines)
    assert fleet.cut_groups(D.SPLIT_BYTES) >= size // D.SPLIT_BYTES >= 3


def test_shape_guard_rejects_a_degenerate_gold(fleet):
    gold = T.expected_gold(fleet)
    two = gold[gold["mmsi"].isin(gold["mmsi"].unique()[:2])]
    with pytest.raises(RuntimeError, match="distinct MMSIs"):
        D.check_shape(fleet, two, T.expected_occupancy(gold))


def test_expected_tables(fleet):
    n = T.expected_tables(fleet)
    counts = T.expected_counts(fleet)
    assert n["ais_position"] == counts[1] + counts[2] + counts[3]
    assert n["ais_static"] == counts[5] > 0
    assert 0 < n["ais_type6_533"] <= counts[6]


def test_feed_plays_every_line_in_order_at_its_rate():
    lines = [b"line %d\n" % i for i in range(timed_lines(500, 0.1))]
    a, b = socket.socketpair()
    with a, b:
        t0 = time.monotonic()
        late = play(a, lines, 500, t0)
        elapsed = time.monotonic() - t0
        a.shutdown(socket.SHUT_WR)
        got = b"".join(iter(lambda: b.recv(4096), b""))
    assert got == b"".join(lines)
    assert len(late) == 50 and min(late) >= 0
    assert elapsed >= 49 / 500


def test_gold_reader_round_trip(tmp_path):
    """Epoch seconds survive the parquet timestamp columns, nulls too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1_700_000_000_000_000, 1_700_000_060_000_000], pa.timestamp("us"))
    right = pa.array([None, 1_700_000_030_000_000], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts, "ts_right": right, "mmsi": [1, 2]}),
                   os.path.join(tmp_path, "part-0.parquet"))
    df = D.read_gold(str(tmp_path))
    assert df["ts"].tolist() == [1_700_000_000, 1_700_000_060]
    assert pd.isna(df["ts_right"][0]) and df["ts_right"][1] == 1_700_000_030
