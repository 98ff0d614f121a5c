"""Seeded vessel-fleet generator: the only source of the benchmark's inputs.

A fleet is a list of time-ordered AIS messages, each with the NMEA
sentences that carry it and the field values the ground truth needs. The
program under test only ever sees the rendered lines.

Shape (counts and rates per the constants below):

- class A vessels report positions as types 1/2/3 at uneven rates:
  anchored ones rarely, slow and fast ones every few seconds. Their
  tracks start on the rings of the two TSS polygons in
  ``pincspark/data/tss_zones.json`` and run roughly along the strait, so
  they cross the zone boundaries;
- class A static data arrives as periodic 2-part type 5 groups, or as type
  24 A/B pairs for a share of the fleet;
- non-gold traffic that routing drops before decode: class B positions
  (type 18) and their type 24 reports, base stations (4), aids to
  navigation (21) and binary messages (6 with DAC 533, 8);
- about 1% of lines are noise the engine must drop: singleton sentences
  with a bad checksum and orphan first fragments whose second part never
  arrives (sequential id 9 is reserved for them, so no real group can be
  spliced onto one).

Every line carries an IEC tag block ``\\s:<station>,c:<epoch>,n:<line>*hh\\``.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field

from aisbench import encoder as E

ZONES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pincspark", "data", "tss_zones.json",
)

# Bearing of the strait's traffic lanes (north-west to south-east), degrees.
LANE_AXIS_DEG = 125.0
ORPHAN_SEQ_ID = "9"
FILLER_MMSI = 4_000_000  # a base station of its own, for split-boundary placement
_WORDS = (
    "OCEAN STAR PACIFIC PEARL ORIENT EAGLE MERIDIAN SPIRIT HARMONY BLUE "
    "GOLDEN WAVE NORTH CROWN JADE EXPRESS PHOENIX GLORY SEA LION DRAGON "
    "VENTURE FORTUNE TIGER LOTUS ATLAS KOTA BINTANG MUTIARA SRI MELAKA"
).split()
_PORTS = (
    "SINGAPORE", "PORT KLANG", "TANJUNG PELEPAS", "PENANG", "DUMAI",
    "BELAWAN", "JOHOR", "BATAM", "COLOMBO", "HONG KONG", "PORT DICKSON",
)
_CALL_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


START_EPOCH = 1_700_000_000
DURATION_S = 300
# Fleet size. An assumption, not a survey: a few thousand MMSIs in range of
# one station, far more vessels than cores, so that the as-of join and the
# geo join see realistic key cardinality.
N_CLASS_A = 1200
N_CLASS_B = 800
N_BASE_STATIONS = 8
N_AIDS = 60
N_BUOY_MONITORS = 40
N_MET_STATIONS = 12
# Shares of class A, also assumptions: half the vessels at anchor, a few
# fast ones, a fifth reporting statics as type 24 A/B instead of type 5.
SHARE_ANCHORED = 0.50
SHARE_FAST = 0.05  # the rest are slow
SHARE_TYPE24 = 0.20
# Report intervals, seconds, from ITU-R M.1371-5, Annex 1: Table 1 for
# class A (3 min at anchor below 3 kn, 10 s at 0-14 kn, 6 s at 14-23 kn;
# the tracks here never change course), Table 2 for the rest (class B "CS"
# above 2 kn 30 s, base stations 10 s, aids to navigation 3 min); static
# and voyage related data every 6 min (Annex 2). The speeds drawn in
# ``generate`` stay inside each band. Binary messages (6, 8) have no
# standard rate; once a minute is an assumption.
ANCHORED_INTERVAL_S = 180
SLOW_INTERVAL_S = 10  # 3-12 kn
FAST_INTERVAL_S = 6  # 14-22 kn
CLASSB_INTERVAL_S = 30  # 2-8 kn
STATIC_INTERVAL_S = 360
BASE_INTERVAL_S = 10
AIDS_INTERVAL_S = 180
BINARY_INTERVAL_S = 60
BAD_CHECKSUM_SHARE = 0.005  # of singleton messages
ORPHAN_SHARE = 0.005  # extra orphan fragments per message


@dataclass
class Message:
    """One generated AIS message. ``valid`` is False for noise the engine
    must drop. ``pos`` holds (lon, lat, sog, cog, heading) as the decoder
    reports them; ``static`` the (shipName, shipType, callsign,
    destination, draught) record the gold table carries."""

    t: int
    mtype: int
    mmsi: int
    sentences: list[str]
    valid: bool = True
    pos: tuple | None = None
    static: tuple | None = None
    dac_fid: tuple[int, int] | None = None
    first_line: int = -1  # index of its first line in the rendered feed


@dataclass
class Fleet:
    seed: int
    messages: list[Message] = field(default_factory=list)
    vessels: list["_Vessel"] = field(default_factory=list)
    lines: list[str] = field(default_factory=list)

    def render(self, split_bytes: int | None = None) -> None:
        """Render ``lines`` (tag block + sentence per line). With
        ``split_bytes`` set, a 2-part type 5 group is placed across every
        multiple of ``split_bytes`` so that an input split of that size cuts
        it (see :func:`_voyage_update`): short base-station reports go
        first until the boundary falls inside the group's first line."""
        rng = random.Random(self.seed ^ 0x5EED)
        out: list[str] = []
        offset = 0
        next_cut = split_bytes or 0
        rendered: list[Message] = []
        seq = 0
        for msg in self.messages:
            if split_bytes and next_cut < offset + sum(
                    len(_line(msg, p, len(out) + p)) + 1 for p in range(len(msg.sentences))):
                cut = _voyage_update(self, msg.t, rng, str(seq % 9))
                seq += 1
                if cut is not None:
                    while next_cut > offset + len(_line(cut, 0, len(out))):
                        offset = _emit(_filler(msg.t), out, rendered, offset)
                    offset = _emit(cut, out, rendered, offset)
                next_cut += split_bytes
            offset = _emit(msg, out, rendered, offset)
        self.messages = rendered
        self.lines = out

    def write(self, path: str) -> int:
        with open(path, "w", encoding="ascii", newline="\n") as f:
            for line in self.lines:
                f.write(line)
                f.write("\n")
        return os.path.getsize(path)

    def cut_groups(self, split_bytes: int) -> int:
        """Multi-part groups whose parts fall into different input splits
        of ``split_bytes`` (a line belongs to the split its first byte after
        the previous boundary starts in, as Hadoop's line reader assigns
        it)."""
        starts = []
        offset = 0
        for line in self.lines:
            starts.append(offset)
            offset += len(line) + 1

        def split_of(pos: int) -> int:
            return max(0, -(-pos // split_bytes) - 1)

        n = 0
        for msg in self.messages:
            if msg.valid and len(msg.sentences) > 1:
                first = split_of(starts[msg.first_line])
                last = split_of(starts[msg.first_line + len(msg.sentences) - 1])
                n += first != last
        return n


def _line(msg: Message, part: int, line_no: int) -> str:
    station = "rBENCH%02d" % (msg.mmsi % 4)
    return E.tag_block(station, msg.t, line_no) + msg.sentences[part]


def _emit(msg: Message, out: list[str], rendered: list[Message], offset: int) -> int:
    msg.first_line = len(out)
    for part in range(len(msg.sentences)):
        line = _line(msg, part, len(out))
        out.append(line)
        offset += len(line) + 1
    rendered.append(msg)
    return offset


def load_zones() -> list[dict]:
    with open(ZONES_PATH) as f:
        return json.load(f)


def _name(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"[:20]


def _callsign(rng: random.Random) -> str:
    return "".join(rng.choice(_CALL_CHARS) for _ in range(rng.randint(4, 7)))


def _deg(x: float) -> int:
    return round(x * 600000)


@dataclass
class _Vessel:
    mmsi: int
    kind: str
    lon: float
    lat: float
    sog: float
    cog: float
    interval: int
    phase: int
    name: str
    callsign: str
    ship_type: int
    imo: int
    dims: tuple[int, int, int, int]
    draught10: int
    destination: str
    static_kind: str
    static_phase: int
    statics_at: set = field(default_factory=set)


def _unique_mmsis(rng: random.Random, n: int, prefixes: tuple[int, ...]) -> list[int]:
    seen: set[int] = set()
    out = []
    while len(out) < n:
        m = rng.choice(prefixes) * 1_000_000 + rng.randrange(1_000_000)
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def _track_start(rng: random.Random, rings: list[list[list[float]]]) -> tuple[float, float]:
    ring = rng.choice(rings)
    x, y = rng.choice(ring)
    return x + rng.gauss(0, 0.02), y + rng.gauss(0, 0.02)


def _at(v: _Vessel, dt: float) -> tuple[float, float]:
    """Dead-reckoned position ``dt`` seconds after the track start."""
    dist_deg = v.sog * dt / 3600.0 / 60.0
    rad = math.radians(v.cog)
    lat = v.lat + dist_deg * math.cos(rad)
    lon = v.lon + dist_deg * math.sin(rad) / math.cos(math.radians(v.lat))
    return lon, lat


def generate(seed: int) -> Fleet:
    """The fleet's messages in time order (not yet rendered to lines)."""
    rng = random.Random(seed)
    rings = [z["coordinates"] for z in load_zones()]
    mmsis = _unique_mmsis(rng, N_CLASS_A + N_CLASS_B, (533, 563, 525, 477, 636, 370))
    vessels: list[_Vessel] = []
    for i, mmsi in enumerate(mmsis):
        if i >= N_CLASS_A:
            kind, interval = "classb", CLASSB_INTERVAL_S
        else:
            u = rng.random()
            if u < SHARE_ANCHORED:
                kind, interval = "anchored", ANCHORED_INTERVAL_S
            elif u < SHARE_ANCHORED + SHARE_FAST:
                kind, interval = "fast", FAST_INTERVAL_S
            else:
                kind, interval = "slow", SLOW_INTERVAL_S
        lon, lat = _track_start(rng, rings)
        sog = {"anchored": 0.0, "fast": rng.uniform(14, 22), "slow": rng.uniform(3, 12),
               "classb": rng.uniform(2, 8)}[kind]
        axis = LANE_AXIS_DEG + (180.0 if rng.random() < 0.5 else 0.0)
        cog = (axis + rng.uniform(-40, 40)) % 360.0
        static_kind = "t24" if kind == "classb" or rng.random() < SHARE_TYPE24 else "t5"
        vessels.append(_Vessel(
            mmsi=mmsi, kind=kind, lon=lon, lat=lat, sog=round(sog, 1), cog=cog,
            interval=interval, phase=rng.randrange(interval), name=_name(rng),
            callsign=_callsign(rng), ship_type=rng.choice((30, 52, 60, 70, 71, 80, 89)),
            imo=rng.randrange(9_000_000, 9_999_999),
            dims=(rng.randint(10, 300), rng.randint(5, 80), rng.randint(2, 30), rng.randint(2, 30)),
            draught10=rng.randint(20, 160), destination=rng.choice(_PORTS),
            static_kind=static_kind, static_phase=rng.randrange(STATIC_INTERVAL_S),
        ))

    msgs: list[Message] = []
    seq_counter = [0]

    def next_seq() -> str:
        seq_counter[0] += 1
        return str(seq_counter[0] % 9)

    for v in vessels:
        _vessel_messages(v, rng, msgs, next_seq)
    _fixed_station_messages(rng, msgs)

    # time order; ties broken by a seeded shuffle, not by vessel
    rng.shuffle(msgs)
    msgs.sort(key=lambda m: m.t)
    msgs = _add_noise(msgs, rng, vessels)
    return Fleet(seed=seed, messages=msgs, vessels=vessels)


def _position_message(v: _Vessel, t: int, rng: random.Random) -> Message:
    lon, lat = _at(v, t - START_EPOCH)
    lon_e, lat_e = _deg(lon), _deg(lat)
    sog10 = round(v.sog * 10)
    cog10 = round(v.cog * 10) % 3600
    heading = round(v.cog) % 360
    if v.kind == "classb":
        bits = E.classb_position(v.mmsi, sog10, lon_e, lat_e, cog10, heading, t % 60)
        payload, fill = E.armor(*bits)
        return Message(t, 18, v.mmsi, E.sentences(payload, fill, channel=rng.choice("AB")))
    mtype = rng.choice((1, 1, 1, 3)) if v.kind != "anchored" else 3
    nav = 1 if v.kind == "anchored" else 0
    bits = E.position(mtype, v.mmsi, nav, 0, sog10, 0, lon_e, lat_e, cog10, heading,
                      t % 60, radio=rng.randrange(1 << 19))
    payload, fill = E.armor(*bits)
    return Message(
        t, mtype, v.mmsi, E.sentences(payload, fill, channel=rng.choice("AB")),
        pos=(lon_e / 600000.0, lat_e / 600000.0, sog10 / 10.0, cog10 / 10.0, heading),
    )


def _static_messages(
    v: _Vessel, t: int, rng: random.Random, seq: str, destination: str | None = None
) -> list[Message]:
    """The vessel's static report at ``t``: one 2-part type 5, or a type 24
    A at ``t`` and B at ``t + 1``."""
    if v.static_kind == "t5":
        dest = destination or v.destination
        bits = E.static_voyage(v.mmsi, v.imo, v.callsign, v.name, v.ship_type, v.dims,
                               v.draught10, dest)
        payload, fill = E.armor(*bits)
        v.statics_at.add(t)
        return [Message(
            t, 5, v.mmsi, E.sentences(payload, fill, seq_id=seq, channel=rng.choice("AB")),
            static=(v.name, v.ship_type, v.callsign, dest, v.draught10 / 10.0),
        )]
    a = E.armor(*E.static_report_a(v.mmsi, v.name))
    b = E.armor(*E.static_report_b(v.mmsi, v.ship_type, "SRT", 1, rng.randrange(1 << 20),
                                   v.callsign, v.dims))
    v.statics_at.update((t, t + 1))
    return [
        Message(t, 24, v.mmsi, E.sentences(*a, channel=rng.choice("AB")),
                static=(v.name, None, None, None, None)),
        Message(t + 1, 24, v.mmsi, E.sentences(*b, channel=rng.choice("AB")),
                static=(None, v.ship_type, v.callsign, None, None)),
    ]


def _vessel_messages(v, rng: random.Random, msgs: list, next_seq) -> None:
    end = START_EPOCH + DURATION_S
    t = START_EPOCH + v.phase
    while t < end:
        msgs.append(_position_message(v, t, rng))
        t += v.interval + (rng.randint(0, 1) if v.interval > 2 else 0)
    t = START_EPOCH + v.static_phase
    while t < end - 1:
        msgs.extend(_static_messages(v, t, rng, next_seq()))
        t += STATIC_INTERVAL_S


def _fixed_station_messages(rng: random.Random, msgs: list) -> None:
    end = START_EPOCH + DURATION_S
    base = _unique_mmsis(rng, N_BASE_STATIONS, (5,))
    for mmsi in base:
        lon, lat = rng.uniform(100.5, 103.8), rng.uniform(1.1, 3.2)
        for t in range(START_EPOCH + rng.randrange(BASE_INTERVAL_S), end, BASE_INTERVAL_S):
            utc = (2023, 11, 14, (t // 3600) % 24, (t // 60) % 60, t % 60)
            payload, fill = E.armor(*E.base_station(mmsi, utc, _deg(lon), _deg(lat)))
            msgs.append(Message(t, 4, mmsi, E.sentences(payload, fill)))
    for mmsi in _unique_mmsis(rng, N_AIDS, (995,)):
        lon, lat = rng.uniform(100.5, 103.8), rng.uniform(1.1, 3.2)
        name = f"BUOY {mmsi % 1000:03d}"
        for t in range(START_EPOCH + rng.randrange(AIDS_INTERVAL_S), end, AIDS_INTERVAL_S):
            bits = E.aid_to_navigation(mmsi, rng.choice((13, 14, 24, 25)), name,
                                       _deg(lon), _deg(lat), t % 60)
            msgs.append(Message(t, 21, mmsi, E.sentences(*E.armor(*bits))))
    for mmsi in _unique_mmsis(rng, N_BUOY_MONITORS, (995,)):
        for t in range(START_EPOCH + rng.randrange(BINARY_INTERVAL_S), end, BINARY_INTERVAL_S):
            fid = rng.choice((1, 2, 4))
            bits = E.binary_addressed(mmsi, rng.randrange(4), 701, 533, fid,
                                      rng.randrange(1 << 56), 56)
            msgs.append(Message(t, 6, mmsi, E.sentences(*E.armor(*bits)), dac_fid=(533, fid)))
    for mmsi in _unique_mmsis(rng, N_MET_STATIONS, (5,)):
        for t in range(START_EPOCH + rng.randrange(BINARY_INTERVAL_S), end, BINARY_INTERVAL_S):
            bits = E.binary_broadcast(mmsi, 1, 31, rng.randrange(1 << 96), 96)
            msgs.append(Message(t, 8, mmsi, E.sentences(*E.armor(*bits)), dac_fid=(1, 31)))


def _add_noise(msgs: list[Message], rng: random.Random, vessels) -> list[Message]:
    out: list[Message] = []
    t5 = [v for v in vessels if v.static_kind == "t5"]
    for m in msgs:
        if len(m.sentences) == 1 and rng.random() < BAD_CHECKSUM_SHARE:
            s = m.sentences[0]
            bad = f"{int(s[-2:], 16) ^ 0x5A:02X}"
            m = Message(m.t, m.mtype, m.mmsi, [s[:-2] + bad], valid=False)
        out.append(m)
        if t5 and rng.random() < ORPHAN_SHARE:
            v = rng.choice(t5)
            bits = E.static_voyage(v.mmsi, v.imo, v.callsign, v.name, v.ship_type, v.dims,
                                   v.draught10, v.destination)
            first = E.sentences(*E.armor(*bits), seq_id=ORPHAN_SEQ_ID, channel="B")[0]
            out.append(Message(m.t, 5, v.mmsi, [first], valid=False))
    return out


def _filler(t: int) -> Message:
    """A base-station report (type 4, routed away before decode); its line
    is shorter than the first line of any type 5 group."""
    utc = (2023, 11, 14, (t // 3600) % 24, (t // 60) % 60, t % 60)
    payload, fill = E.armor(*E.base_station(FILLER_MMSI, utc, _deg(101.0), _deg(2.0)))
    return Message(t, 4, FILLER_MMSI, E.sentences(payload, fill))


def _voyage_update(fleet: Fleet, t: int, rng: random.Random, seq: str) -> Message | None:
    """A type 5 with a new destination from a moving class A vessel that
    has no static report at ``t``; the renderer places it across an input
    split boundary. Its new destination and time reach the gold rows that
    follow, so a group the engine fails to repair shows in the check."""
    movers = [v for v in fleet.vessels
              if v.static_kind == "t5" and v.kind != "anchored" and t not in v.statics_at]
    if not movers:
        return None
    v = rng.choice(movers)
    destination = rng.choice([p for p in _PORTS if p != v.destination])
    return _static_messages(v, t, rng, seq, destination=destination)[0]
