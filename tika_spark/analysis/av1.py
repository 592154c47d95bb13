"""AV1 metadata tier: OBU walk + sequence-header parse.

AV1 is the web's ascendant video codec (WebM/MP4 `av01`, AVIF
stills); its decode loop is out of scope (the perceptual-codec hook
tier), but the METADATA every pipeline wants — profile, level, tier,
coded size — lives in the sequence-header OBU and parses with a
shared MSB-first bit reader (analysis/bitio.py; AV1 bitstream spec
§5.3/§5.5, public AOM document).

Supported carriage: raw low-overhead OBU streams and IVF files
(``DKIF``/``AV01``); the IVF header's own width/height are returned
beside the bitstream's for cross-checking. Sequence headers with
``timing_info_present_flag=1`` raise ``Av1Error`` (decoder-model
syntax beyond the metadata tier — rare in web files and loudly
reported rather than mis-parsed).

``seq_header_obu``/``ivf_wrap`` are the fixture builders (same
pattern as every codec module here: the writer exists so tests and
oracles can pin the reader bit-for-bit).
"""

from __future__ import annotations

import struct

from tika_spark.analysis.bitio import MsbReader, MsbWriter


class Av1Error(ValueError):
    pass


OBU_SEQUENCE_HEADER = 1


class _Av1Bits(MsbReader):
    __slots__ = ()
    error = Av1Error


def _leb128(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    for i in range(8):
        if pos >= len(data):
            raise Av1Error("leb128 truncated")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << (7 * i)
        if not (b & 0x80):
            return v, pos
    raise Av1Error("leb128 too long")


def parse_obus(data: bytes) -> list[tuple[int, bytes]]:
    """(obu_type, payload) list of a low-overhead OBU stream."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        hdr = data[pos]
        pos += 1
        if hdr & 0x80:
            raise Av1Error("forbidden bit set")
        otype = (hdr >> 3) & 0xF
        ext = (hdr >> 2) & 1
        has_size = (hdr >> 1) & 1
        if ext:
            pos += 1
        if has_size:
            size, pos = _leb128(data, pos)
        else:
            size = n - pos                # last OBU takes the rest
        if pos + size > n:
            raise Av1Error("OBU overruns buffer")
        out.append((otype, data[pos:pos + size]))
        pos += size
    return out


def parse_sequence_header(payload: bytes) -> dict:
    """profile / level / tier / still / coded size (spec §5.5.1)."""
    b = _Av1Bits(payload)
    profile = b.read(3)
    still = b.read(1)
    reduced = b.read(1)
    tier = 0
    if reduced:
        level = b.read(5)
    else:
        if b.read(1):
            raise Av1Error("timing_info_present beyond metadata "
                           "tier")
        delay_present = b.read(1)
        n_ops = b.read(5) + 1
        level = 0
        for i in range(n_ops):
            b.read(12)                    # operating_point_idc
            lv = b.read(5)
            tr = b.read(1) if lv > 7 else 0
            if i == 0:
                level, tier = lv, tr
            if delay_present and b.read(1):
                b.read(4)
    wb = b.read(4) + 1
    hb = b.read(4) + 1
    width = b.read(wb) + 1
    height = b.read(hb) + 1
    return {"profile": profile, "still": bool(still),
            "reduced": bool(reduced), "level": level, "tier": tier,
            "width": width, "height": height}


def av1_meta(data: bytes) -> dict:
    """Metadata of an AV1 payload: raw OBU stream or IVF file."""
    data = bytes(data or b"")
    out: dict = {}
    if data[:4] == b"DKIF":
        if len(data) < 32 or data[8:12] != b"AV01":
            raise Av1Error("IVF is not AV01")
        hdr_sz = struct.unpack_from("<H", data, 6)[0]
        out["ivf_width"] = struct.unpack_from("<H", data, 12)[0]
        out["ivf_height"] = struct.unpack_from("<H", data, 14)[0]
        out["n_frames"] = struct.unpack_from("<I", data, 24)[0]
        pos = hdr_sz
        if pos + 12 > len(data):
            raise Av1Error("IVF has no frames")
        fsz = struct.unpack_from("<I", data, pos)[0]
        stream = data[pos + 12:pos + 12 + fsz]
    else:
        stream = data
    for otype, payload in parse_obus(stream):
        if otype == OBU_SEQUENCE_HEADER:
            out.update(parse_sequence_header(payload))
            return out
    raise Av1Error("no sequence header OBU")


# --------------------------------------------------- fixture side --


def seq_header_obu(profile: int, level: int, width: int,
                   height: int, reduced: bool = True,
                   still: bool = True, tier: int = 0) -> bytes:
    w = MsbWriter()
    w.write(profile, 3)
    w.write(1 if still else 0, 1)
    w.write(1 if reduced else 0, 1)
    if reduced:
        w.write(level, 5)
    else:
        w.write(0, 1)                     # timing_info_present
        w.write(0, 1)                     # initial_display_delay
        w.write(0, 5)                     # one operating point
        w.write(0, 12)
        w.write(level, 5)
        if level > 7:
            w.write(tier, 1)
    w.write(15, 4)                        # 16-bit width field
    w.write(15, 4)
    w.write(width - 1, 16)
    w.write(height - 1, 16)
    payload = w.bytes()
    return (bytes([(OBU_SEQUENCE_HEADER << 3) | 0x02])
            + bytes([len(payload)]) + payload)


def ivf_wrap(obu_stream: bytes, width: int, height: int,
             n_frames: int = 1) -> bytes:
    hdr = (b"DKIF" + struct.pack("<HH", 0, 32) + b"AV01"
           + struct.pack("<HH", width, height)
           + struct.pack("<II", 30, 1)
           + struct.pack("<I", n_frames) + b"\x00" * 4)
    return hdr + struct.pack("<I", len(obu_stream)) + b"\x00" * 8 \
        + obu_stream
