"""From-scratch Ogg container (RFC 3533) page/packet demux.

Parses the page layer exactly as a real demuxer does: 'OggS'
capture, version, header-type flags, 64-bit granule, stream serial,
page sequence, CRC (the Ogg CRC-32 — poly 0x04C11DB7, zero init,
no reflection — verified over every page with the checksum field
zeroed), and the lacing table that segments pages into packets
(255-lacing continuation, cross-page packet joining via the
continued-packet flag). Streams are separated by serial number and
identified from their first packet: Vorbis, Opus, Theora, Speex,
and FLAC-in-Ogg.

Decode tiers on top of the demux:

* **FLAC-in-Ogg decodes fully** — the mapping's first packet wraps
  a native STREAMINFO block, and the audio packets are native FLAC
  frames, so reassembling ``fLaC`` + STREAMINFO + frames feeds the
  existing self-verifying decoder (:mod:`tika_spark.analysis.flac`).
* **Vorbis decodes fully** through the from-scratch Vorbis I decoder
  (:mod:`tika_spark.analysis.vorbis`).
* **Opus surfaces its identification + comment headers**
  (rate/channels/vendor/tags) for the metadata tier and per-packet
  stats (:func:`opus_packet_stats`); it has no transform decoder, so
  :func:`decode_ogg_audio` raises on it.

Reference parity: the reference detects and tags Ogg types
(``tika-parsers`` delegates to an external Vorbis library for
comments); the page/packet layer and FLAC decode here are from-
scratch pipeline extension. Scale: per-row work, no shuffle.
"""

from __future__ import annotations

import numpy as np


class OggError(ValueError):
    pass


_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 \
            else (_r << 1) & 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32 (zero init, unreflected, no final xor)."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte]
    return crc


def ogg_pages(data: bytes):
    """Yield (serial, flags, granule, [segments]) per page, CRC-
    verified."""
    data = bytes(data or b"")
    if data[:4] != b"OggS":
        raise OggError("not an Ogg stream")
    pos = 0
    n = len(data)
    while pos + 27 <= n:
        if data[pos:pos + 4] != b"OggS":
            raise OggError("lost Ogg page synchronization")
        if data[pos + 4] != 0:
            raise OggError("unsupported Ogg version")
        flags = data[pos + 5]
        granule = int.from_bytes(data[pos + 6:pos + 14], "little",
                                 signed=True)
        serial = int.from_bytes(data[pos + 14:pos + 18], "little")
        crc = int.from_bytes(data[pos + 22:pos + 26], "little")
        nsegs = data[pos + 26]
        lace = data[pos + 27:pos + 27 + nsegs]
        if len(lace) < nsegs:
            raise OggError("truncated lacing table")
        body_start = pos + 27 + nsegs
        body_len = sum(lace)
        if body_start + body_len > n:
            raise OggError("truncated Ogg page body")
        page = bytearray(data[pos:body_start + body_len])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise OggError("Ogg page CRC mismatch")
        segs = []
        sp = body_start
        for v in lace:
            segs.append((data[sp:sp + v], v))
            sp += v
        yield serial, flags, granule, segs
        pos = body_start + body_len


def ogg_packets(data: bytes) -> dict[int, list[bytes]]:
    """Reassemble packets per logical stream: {serial: [packet]}.
    Lacing 255 continues within a page; the continued-packet flag
    joins across pages."""
    out: dict[int, list[bytes]] = {}
    pending: dict[int, bytearray] = {}
    for serial, flags, _granule, segs in ogg_pages(data):
        out.setdefault(serial, [])
        cur = pending.pop(serial, bytearray())
        if cur and not flags & 0x01:
            raise OggError("expected continued packet")
        for seg, lace in segs:
            cur += seg
            if lace < 255:                       # packet boundary
                out[serial].append(bytes(cur))
                cur = bytearray()
        if cur:
            pending[serial] = cur
    if any(pending.values()):
        raise OggError("stream ends mid-packet")
    return out


def identify(first_packet: bytes) -> str:
    if first_packet.startswith(b"\x01vorbis"):
        return "vorbis"
    if first_packet.startswith(b"OpusHead"):
        return "opus"
    if first_packet.startswith(b"\x80theora"):
        return "theora"
    if first_packet.startswith(b"Speex   "):
        return "speex"
    if first_packet.startswith(b"\x7fFLAC"):
        return "flac"
    return "unknown"


def ogg_info(data: bytes) -> list[dict]:
    """Per-stream identification + comment metadata: codec, rate,
    channels, vendor, tags."""
    infos = []
    for serial, packets in ogg_packets(data).items():
        if not packets:
            continue
        codec = identify(packets[0])
        info: dict = {"serial": serial, "codec": codec}
        p0 = packets[0]
        if codec == "vorbis" and len(p0) >= 28:
            info["channels"] = p0[11]
            info["sample_rate"] = int.from_bytes(p0[12:16],
                                                 "little")
            if len(packets) > 1 and packets[1].startswith(
                    b"\x03vorbis"):
                info.update(_comments(packets[1][7:]))
        elif codec == "opus" and len(p0) >= 19:
            info["channels"] = p0[9]
            info["pre_skip"] = int.from_bytes(p0[10:12], "little")
            info["sample_rate"] = int.from_bytes(p0[12:16],
                                                 "little")
            if len(packets) > 1 and packets[1].startswith(
                    b"OpusTags"):
                info.update(_comments(packets[1][8:]))
        elif codec == "flac" and len(p0) >= 13:
            info["n_header_packets"] = int.from_bytes(p0[7:9],
                                                      "big")
        infos.append(info)
    if not infos:
        raise OggError("Ogg stream has no packets")
    return infos


def _opus_frame_us(config: int) -> int:
    """Frame duration in µs for an Opus TOC config (RFC 6716 §3.1):
    configs 0-11 SILK {10,20,40,60} ms, 12-15 hybrid {10,20} ms,
    16-31 CELT {2.5,5,10,20} ms."""
    if config < 12:
        return (10_000, 20_000, 40_000, 60_000)[config % 4]
    if config < 16:
        return (10_000, 20_000)[config % 2]
    return (2_500, 5_000, 10_000, 20_000)[(config - 16) % 4]


def opus_packet_stats(data: bytes) -> dict:
    """Duration and mode census of an Ogg Opus stream WITHOUT
    decoding (RFC 6716 TOC walk — the metadata tier for the one
    codec whose sample decode stays a documented hook): per packet,
    config selects the mode (SILK/hybrid/CELT) and frame duration,
    the frame-count code selects 1/2/N frames (code 3 reads the
    count byte). Returns {n_packets, duration_ms, n_silk, n_hybrid,
    n_celt, channels, pre_skip}."""
    streams = ogg_packets(data)
    for serial, packets in streams.items():
        if packets and identify(packets[0]) == "opus":
            break
    else:
        raise OggError("no Opus stream")
    head = packets[0]
    out = {"n_packets": 0, "duration_ms": 0, "n_silk": 0,
           "n_hybrid": 0, "n_celt": 0,
           "channels": head[9] if len(head) > 9 else 0,
           "pre_skip": (int.from_bytes(head[10:12], "little")
                        if len(head) >= 12 else 0)}
    total_us = 0
    for pkt in packets[2:]:            # skip OpusHead + OpusTags
        if not pkt:
            continue
        toc = pkt[0]
        config = toc >> 3
        code = toc & 3
        if code == 0:
            frames = 1
        elif code in (1, 2):
            frames = 2
        else:
            frames = (pkt[1] & 0x3F) if len(pkt) > 1 else 0
        out["n_packets"] += 1
        total_us += frames * _opus_frame_us(config)
        key = ("n_silk" if config < 12
               else "n_hybrid" if config < 16 else "n_celt")
        out[key] += 1
    out["duration_ms"] = total_us // 1000
    return out


def _comments(body: bytes) -> dict:
    """Vorbis-comment block → {'vendor': ..., 'tags': {...}}."""
    try:
        vlen = int.from_bytes(body[0:4], "little")
        vendor = body[4:4 + vlen].decode("utf-8", "replace")
        pos = 4 + vlen
        count = int.from_bytes(body[pos:pos + 4], "little")
        pos += 4
        tags = {}
        for _ in range(min(count, 256)):
            ln = int.from_bytes(body[pos:pos + 4], "little")
            pos += 4
            item = body[pos:pos + ln].decode("utf-8", "replace")
            pos += ln
            if "=" in item:
                k, v = item.split("=", 1)
                tags[k.upper()] = v
        return {"vendor": vendor, "tags": tags}
    except Exception:
        return {}


def decode_ogg_flac(data: bytes) -> tuple[np.ndarray, int]:
    """FLAC-in-Ogg → PCM via the native FLAC decoder: packet 1
    wraps 'fLaC' + STREAMINFO, audio packets are native frames."""
    from tika_spark.analysis.flac import decode_flac
    for _serial, packets in ogg_packets(data).items():
        if not packets or not packets[0].startswith(b"\x7fFLAC"):
            continue
        p0 = packets[0]
        nheaders = int.from_bytes(p0[7:9], "big")
        if p0[9:13] != b"fLaC":
            raise OggError("bad FLAC-in-Ogg first packet")
        streaminfo = bytearray(p0[13:])
        if not streaminfo:
            raise OggError("missing STREAMINFO packet")
        streaminfo[0] |= 0x80                    # force last-metadata
        audio = packets[1 + nheaders:]
        native = b"fLaC" + bytes(streaminfo) + b"".join(audio)
        return decode_flac(native)
    raise OggError("no FLAC stream in Ogg container")


# ------------------------------------------------------ fixture mux

def ogg_wrap(packets: list[bytes], serial: int = 0x1234,
             max_page: int = 4096) -> bytes:
    """Fixture muxer: packets → a valid single-stream Ogg (correct
    lacing, CRCs, begin/end flags; long packets span pages via
    255-lacing and the continued flag)."""
    pages: list[tuple[int, list[int], bytes]] = []
    flags = 0x02                                 # beginning of stream
    seq = 0
    lace: list[int] = []
    body = bytearray()

    def flush(more_flags=0):
        nonlocal flags, seq, lace, body
        pages.append((flags | more_flags, list(lace), bytes(body)))
        flags = more_flags & 0x01                # carry 'continued'
        seq += 1
        lace = []
        body = bytearray()

    for packet in packets:
        off = 0
        while True:
            take = min(255, len(packet) - off)
            lace.append(take)
            body += packet[off:off + take]
            off += take
            if len(lace) == 255 or len(body) >= max_page:
                cont = 0x01 if off < len(packet) or take == 255 \
                    else 0
                flush(cont)
            if off >= len(packet) and take < 255:
                break
            if off >= len(packet) and take == 255:
                lace.append(0)                   # explicit 0 lacing
                break
    if lace or body:
        flush()
    out = bytearray()
    for k, (pflags, plac, pbody) in enumerate(pages):
        if k == len(pages) - 1:
            pflags |= 0x04                       # end of stream
        if k > 0:
            pflags &= ~0x02
        hdr = bytearray(b"OggS")
        hdr += bytes((0, pflags))
        hdr += (0).to_bytes(8, "little")         # granule (unused)
        hdr += serial.to_bytes(4, "little")
        hdr += k.to_bytes(4, "little")
        hdr += b"\x00\x00\x00\x00"               # CRC placeholder
        hdr += bytes((len(plac),))
        hdr += bytes(plac)
        page = bytes(hdr) + pbody
        crc = ogg_crc(page)
        page = (page[:22] + crc.to_bytes(4, "little") + page[26:])
        out += page
    return bytes(out)


def ogg_flac_wrap(native_flac: bytes) -> bytes:
    """Native FLAC bytes → FLAC-in-Ogg (mapping version 1.0):
    packet 1 = 0x7F 'FLAC' 1 0 nheaders 'fLaC' STREAMINFO, then one
    packet per remaining byte run of frames."""
    if native_flac[:4] != b"fLaC":
        raise OggError("not a native FLAC stream")
    pos = 4
    blocks = []
    while pos + 4 <= len(native_flac):
        hdr = native_flac[pos]
        blen = int.from_bytes(native_flac[pos + 1:pos + 4], "big")
        blocks.append(native_flac[pos:pos + 4 + blen])
        pos += 4 + blen
        if hdr & 0x80:
            break
    if not blocks:
        raise OggError("FLAC stream has no metadata blocks")
    frames = native_flac[pos:]
    first = (b"\x7fFLAC\x01\x00"
             + (len(blocks) - 1).to_bytes(2, "big")
             + b"fLaC" + blocks[0])
    packets = [first] + blocks[1:] + [frames]
    return ogg_wrap(packets)


def ogg_flac_fixture(doc_id: int) -> bytes:
    """Deterministic FLAC-in-Ogg per document row: the same ramp
    signal family as the native FLAC fixtures (closed-form sample
    counts and exact PCM), wrapped in CRC-correct Ogg pages."""
    from tika_spark.analysis.flac import flac_bytes
    n = 512 + (doc_id % 4) * 256
    t = np.arange(n, dtype=np.int64)
    amp = 64 + doc_id % 192
    wave = ((t * amp) % 2048 - 1024).astype(np.int16)
    nch = 1 + doc_id % 2
    samples = np.stack([wave] * nch, axis=1) if nch == 2 else wave
    native = flac_bytes(samples, rate=8000 * (1 + doc_id % 3),
                        mode="verbatim")
    return ogg_flac_wrap(native)


def decode_ogg_audio(data: bytes):
    """Dispatch an Ogg container to its decodable codec: FLAC-in-Ogg
    via the native FLAC decoder, Vorbis via the from-scratch Vorbis
    I decoder (analysis/vorbis.py). Opus/Speex/Theora raise."""
    for _serial, packets in ogg_packets(data).items():
        if not packets:
            continue
        if packets[0].startswith(b"\x7fFLAC"):
            return decode_ogg_flac(data)
        if packets[0].startswith(b"\x01vorbis"):
            from tika_spark.analysis.vorbis import \
                decode_vorbis_packets
            return decode_vorbis_packets(packets)
    raise OggError("no decodable audio stream in Ogg container")
