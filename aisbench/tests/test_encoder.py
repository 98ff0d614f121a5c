"""The benchmark's AIS encoder against the engine's decoder and the golden
corpus."""

from __future__ import annotations

import json
import os

import pytest

from aisbench import encoder as E
from aisbench import fleet as F
from pincspark.decode.kernel import decode_payload
from pincspark.functions.nmea import Bits, checksum_ok

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "..", "tests", "golden",
                      "reference_decoded.json")


def _golden_groups():
    with open(GOLDEN) as f:
        return [r for r in json.load(f) if r["common"]["messageType"] in (1, 3, 5, 24)]


def _reencode(sentences: list[str]) -> list[str]:
    """Decode a golden group with the engine, then encode it again from
    the decoded fields (raw 6-bit text where decoding trims padding)."""
    head = sentences[0].split(",")
    talker, seq, channel = head[0][1:3], head[3], head[4]
    payload = "".join(s.split(",")[5] for s in sentences)
    rec = decode_payload(payload)
    f = rec[rec["family"]]
    b = Bits.from_payload(payload)
    t, mmsi = rec["messageType"], rec["mmsi"]
    dims = lambda: (f["to_bow"], f["to_stern"], f["to_port"], f["to_starboard"])  # noqa: E731
    if t in (1, 2, 3):
        bits = E.position(t, mmsi, f["navStatus"], E.rot_raw(f["rot"]), round(f["sog"] * 10),
                          f["positionAccuracy"], round(f["longitude"] * 600000),
                          round(f["latitude"] * 600000), round(f["cog"] * 10), f["trueHeading"],
                          f["timeStamp"], f["manoeuvre"], f["raimFlag"], f["radioStatus"],
                          rec["repeat"])
    elif t == 5:
        bits = E.static_voyage(mmsi, f["imo"], b.text_raw(70, 42), b.text_raw(112, 120),
                               f["shipType"], dims(), round(f["draught"] * 10),
                               b.text_raw(302, 120),
                               (f["eta_month"], f["eta_day"], f["eta_hour"], f["eta_minute"]),
                               f["aisVersion"], f["epfd"], f["dte"], rec["repeat"])
    elif f["partNo"] == 0:
        bits = E.static_report_a(mmsi, b.text_raw(40, 120), rec["repeat"])
    else:
        bits = E.static_report_b(mmsi, f["shipType"], b.text_raw(48, 18), f["model"], f["serial"],
                                 b.text_raw(90, 42), dims(), rec["repeat"], spare=b.u(162, 6))
    return E.sentences(*E.armor(*bits), talker=talker, seq_id=seq, channel=channel)


@pytest.mark.parametrize("rec", _golden_groups(), ids=lambda r: r["sentences"][0][15:30])
def test_reencodes_golden_byte_for_byte(rec):
    assert _reencode(rec["sentences"]) == rec["sentences"]


def test_checksum_and_tag_block():
    s = E.sentences("15R9eN001n7DHvT13w0TBSM>00Rm", 0, talker="AB", seq_id="7")[0]
    assert s == "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54"
    tb = E.tag_block("rX", 1700000000, 12)
    assert checksum_ok("!" + tb[1:-1].replace("*", "*", 1))


def test_type5_splits_in_two_parts():
    bits = E.static_voyage(533000001, 9000001, "9VABC", "OCEAN STAR", 70, (100, 20, 10, 10),
                           85, "SINGAPORE")
    assert bits[1] == 424
    parts = E.sentences(*E.armor(*bits), seq_id="3")
    assert [p.split(",")[1:3] for p in parts] == [["2", "1"], ["2", "2"]]
    assert [p.split(",")[6][0] for p in parts] == ["0", "2"]
    assert all(checksum_ok(p) for p in parts)


@pytest.fixture(scope="module")
def small_fleet():
    fl = F.generate(5)
    fl.render()
    return fl


def test_fleet_round_trips_through_the_engine_decoder(small_fleet):
    types = set()
    for m in small_fleet.messages:
        if not m.valid:
            continue
        assert all(checksum_ok(s) for s in m.sentences)
        rec = decode_payload("".join(s.split(",")[5] for s in m.sentences))
        assert (rec["messageType"], rec["mmsi"]) == (m.mtype, m.mmsi)
        types.add(m.mtype)
        if m.pos is not None:
            p = rec["position"]
            assert (p["longitude"], p["latitude"], p["sog"], p["cog"], p["trueHeading"]) == m.pos
        if m.mtype == 5:
            s = rec["static_voyage"]
            assert (s["shipName"], s["shipType"], s["callsign"], s["destination"],
                    s["draught"]) == m.static
        if m.mtype == 24:
            s = rec["static_report"]
            got = (s.get("shipName"), s.get("shipType"), s.get("callsign"), None, None)
            assert got == m.static
        if m.dac_fid is not None:
            fam = rec["bin_addressed"] if m.mtype == 6 else rec["bin_broadcast"]
            assert (fam["dac"], fam["fid"]) == m.dac_fid
    assert {1, 3, 4, 5, 6, 8, 18, 21, 24} <= types


def test_noise_is_invalid_on_the_wire(small_fleet):
    bad = [m for m in small_fleet.messages if not m.valid]
    assert bad
    for m in bad:
        line = m.sentences[0]
        orphan = line.split(",")[1:4] == ["2", "1", F.ORPHAN_SEQ_ID] and len(m.sentences) == 1
        assert orphan or not checksum_ok(line)


def test_same_seed_same_lines():
    a, b = F.generate(9), F.generate(9)
    a.render(split_bytes=1 << 19)
    b.render(split_bytes=1 << 19)
    assert a.lines == b.lines
    c = F.generate(10)
    c.render(split_bytes=1 << 19)
    assert c.lines != a.lines
