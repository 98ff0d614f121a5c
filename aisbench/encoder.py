"""A small AIS encoder owned by the benchmark: bit packing, 6-bit payload
armoring, 6-bit text, the NMEA checksum, tag blocks and multi-part
splitting.

It is written independently of the engine's decoder (``pincspark.decode``)
so that the benchmark's inputs and its ground truth do not share code with
the system under test. ``aisbench/tests/test_encoder.py`` pins it against
the decoder (round trip) and against the golden corpus (byte for byte).
"""

from __future__ import annotations

ARMOR = "0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVW`abcdefghijklmnopqrstuvw"

# Payload characters per sentence before a message is split into parts;
# a 424-bit type 5 becomes 60 + 11 characters, as real transponders send it.
MAX_PART_CHARS = 60


def pack(fields: list[tuple[int, int]]) -> tuple[int, int]:
    """Concatenate (value, width) fields MSB first into (value, nbits).
    Negative values are stored in two's complement."""
    acc = 0
    n = 0
    for value, width in fields:
        acc = (acc << width) | (value & ((1 << width) - 1))
        n += width
    return acc, n


def text_bits(text: str, nchars: int) -> tuple[int, int]:
    """6-bit ASCII text field, '@'-padded to ``nchars``. Characters '@'..'_'
    map to 0..31 and ' '..'?' keep their code."""
    if len(text) > nchars:
        raise ValueError(f"{text!r} is longer than {nchars} chars")
    acc = 0
    for ch in text.ljust(nchars, "@"):
        code = ord(ch)
        if 64 <= code <= 95:
            code -= 64
        elif not 32 <= code <= 63:
            raise ValueError(f"{ch!r} is not 6-bit ASCII")
        acc = (acc << 6) | code
    return acc, 6 * nchars


def armor(value: int, nbits: int) -> tuple[str, int]:
    """Bits -> (armored payload, fill bits)."""
    fill = (-nbits) % 6
    value <<= fill
    nchars = (nbits + fill) // 6
    chars = [ARMOR[(value >> (6 * (nchars - 1 - i))) & 63] for i in range(nchars)]
    return "".join(chars), fill


def checksum(body: str) -> str:
    """NMEA checksum: XOR of the characters, two upper-case hex digits."""
    x = 0
    for ch in body:
        x ^= ord(ch)
    return f"{x:02X}"


def sentences(
    payload: str,
    fill: int,
    talker: str = "AI",
    seq_id: str = "",
    channel: str = "A",
    max_chars: int = MAX_PART_CHARS,
) -> list[str]:
    """Split an armored payload into !xxVDM sentences. Only the last part
    carries the fill bits; multi-part messages need a sequential id."""
    parts = [payload[i : i + max_chars] for i in range(0, len(payload), max_chars)] or [""]
    if len(parts) > 1 and seq_id == "":
        raise ValueError("a multi-part message needs a sequential message id")
    out = []
    for i, part in enumerate(parts):
        f = fill if i == len(parts) - 1 else 0
        body = f"{talker}VDM,{len(parts)},{i + 1},{seq_id},{channel},{part},{f}"
        out.append(f"!{body}*{checksum(body)}")
    return out


def tag_block(station: str, epoch: int, line_no: int) -> str:
    """IEC 61162-450 tag block with source, UNIX time and line count."""
    body = f"s:{station},c:{epoch},n:{line_no}"
    return f"\\{body}*{checksum(body)}\\"


def rot_raw(rot: float) -> int:
    """Inverse of the decoder's quadratic rate-of-turn rescale."""
    mag = round(4.733 * abs(rot) ** 0.5)
    return -mag if rot < 0 else mag


# ---------------------------------------------------------------------------
# Message layouts (ITU-R M.1371). Each returns (value, nbits).
# ---------------------------------------------------------------------------


def _header(msg_type: int, mmsi: int, repeat: int = 0) -> list[tuple[int, int]]:
    return [(msg_type, 6), (repeat, 2), (mmsi, 30)]


def position(
    msg_type: int,
    mmsi: int,
    nav_status: int,
    rot: int,
    sog10: int,
    accuracy: int,
    lon_e: int,
    lat_e: int,
    cog10: int,
    heading: int,
    second: int,
    manoeuvre: int = 0,
    raim: int = 0,
    radio: int = 0,
    repeat: int = 0,
) -> tuple[int, int]:
    """Types 1/2/3. ``lon_e``/``lat_e`` are 1/600000 degree units, ``rot``
    the raw signed byte (see :func:`rot_raw`)."""
    return pack(
        _header(msg_type, mmsi, repeat)
        + [
            (nav_status, 4), (rot, 8), (sog10, 10), (accuracy, 1),
            (lon_e, 28), (lat_e, 27), (cog10, 12), (heading, 9),
            (second, 6), (manoeuvre, 2), (0, 3), (raim, 1), (radio, 19),
        ]
    )


def static_voyage(
    mmsi: int,
    imo: int,
    callsign: str,
    name: str,
    ship_type: int,
    dims: tuple[int, int, int, int],
    draught10: int,
    destination: str,
    eta: tuple[int, int, int, int] = (0, 0, 24, 60),
    ais_version: int = 0,
    epfd: int = 1,
    dte: int = 0,
    repeat: int = 0,
) -> tuple[int, int]:
    """Type 5 (424 bits, sent as two parts)."""
    bow, stern, port, starboard = dims
    month, day, hour, minute = eta
    v, n = pack(
        _header(5, mmsi, repeat)
        + [
            (ais_version, 2), (imo, 30), text_bits(callsign, 7),
            text_bits(name, 20), (ship_type, 8), (bow, 9), (stern, 9),
            (port, 6), (starboard, 6), (epfd, 4), (month, 4), (day, 5),
            (hour, 5), (minute, 6), (draught10, 8),
            text_bits(destination, 20), (dte, 1), (0, 1),
        ]
    )
    return v, n


def static_report_a(mmsi: int, name: str, repeat: int = 0) -> tuple[int, int]:
    """Type 24 part A (160 bits)."""
    return pack(_header(24, mmsi, repeat) + [(0, 2), text_bits(name, 20)])


def static_report_b(
    mmsi: int,
    ship_type: int,
    vendor: str,
    model: int,
    serial: int,
    callsign: str,
    dims: tuple[int, int, int, int],
    repeat: int = 0,
    spare: int = 0,
) -> tuple[int, int]:
    """Type 24 part B (168 bits) for a vessel (not an auxiliary craft)."""
    bow, stern, port, starboard = dims
    return pack(
        _header(24, mmsi, repeat)
        + [
            (1, 2), (ship_type, 8), text_bits(vendor, 3), (model, 4),
            (serial, 20), text_bits(callsign, 7), (bow, 9), (stern, 9),
            (port, 6), (starboard, 6), (spare, 6),
        ]
    )


def base_station(
    mmsi: int, utc: tuple[int, int, int, int, int, int], lon_e: int, lat_e: int
) -> tuple[int, int]:
    """Type 4 (168 bits)."""
    year, month, day, hour, minute, second = utc
    return pack(
        _header(4, mmsi)
        + [
            (year, 14), (month, 4), (day, 5), (hour, 5), (minute, 6),
            (second, 6), (0, 1), (lon_e, 28), (lat_e, 27), (7, 4),
            (0, 10), (0, 1), (0, 19),
        ]
    )


def classb_position(
    mmsi: int, sog10: int, lon_e: int, lat_e: int, cog10: int, heading: int, second: int
) -> tuple[int, int]:
    """Type 18 (168 bits)."""
    return pack(
        _header(18, mmsi)
        + [
            (0, 8), (sog10, 10), (0, 1), (lon_e, 28), (lat_e, 27),
            (cog10, 12), (heading, 9), (second, 6), (0, 2), (1, 1),
            (0, 1), (0, 1), (1, 1), (0, 1), (0, 1), (0, 1), (0, 20),
        ]
    )


def aid_to_navigation(
    mmsi: int, aid_type: int, name: str, lon_e: int, lat_e: int, second: int
) -> tuple[int, int]:
    """Type 21 without a name extension (272 bits)."""
    return pack(
        _header(21, mmsi)
        + [
            (aid_type, 5), text_bits(name, 20), (0, 1), (lon_e, 28),
            (lat_e, 27), (0, 9), (0, 9), (0, 6), (0, 6), (7, 4),
            (second, 6), (0, 1), (0, 8), (0, 1), (1, 1), (0, 1), (0, 1),
        ]
    )


def binary_addressed(
    mmsi: int, seqno: int, dest_mmsi: int, dac: int, fid: int, data: int, data_bits: int
) -> tuple[int, int]:
    """Type 6 with an application identifier and opaque data bits."""
    return pack(
        _header(6, mmsi)
        + [(seqno, 2), (dest_mmsi, 30), (0, 1), (0, 1), (dac, 10), (fid, 6), (data, data_bits)]
    )


def binary_broadcast(
    mmsi: int, dac: int, fid: int, data: int, data_bits: int
) -> tuple[int, int]:
    """Type 8 with an application identifier and opaque data bits."""
    return pack(_header(8, mmsi) + [(0, 2), (dac, 10), (fid, 6), (data, data_bits)])
