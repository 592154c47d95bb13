"""From-scratch MPEG transport stream (ISO/IEC 13818-1 TS) demux.

The web's dominant streaming container (.ts — HLS segments, DVB
captures) is a sequence of fixed 188-byte packets. This module walks
the PSI tables the way a real demuxer does: PAT (PID 0) → program
map PID → PMT → elementary stream PIDs with their stream types, then
reassembles each stream's PES packets (packet-start indicator starts
a unit, adaptation fields are skipped, continuity counters checked)
and strips the MPEG-2 '10'-flags PES headers down to elementary
bytes. PSI section CRCs are verified with the MPEG CRC-32
(poly 0x04C11DB7, init all-ones, no reflection — implemented here).

:func:`ts_video_es` / :func:`ts_audio_es` feed the from-scratch
codecs in :mod:`tika_spark.analysis.mpegvideo` (MPEG-1/2 video),
:mod:`tika_spark.analysis.mp3codec` and
:mod:`tika_spark.analysis.aaccodec` (ADTS AAC), so a .ts capture
decodes end-to-end with zero external libraries. :func:`ts_wrap` is
the fixture muxer (PAT + PMT + PES with adaptation-field stuffing).

Scale note: demux is per-row work inside mapInPandas — no shuffle;
oversized captures hit the same size-bucket skew defusal as giant
HTML pages. Reference parity: the reference detects video/mp2t by
the 0x47 stride (mime magic, matched in mime/magic.py) but does not
demux or decode it — this is pipeline extension, not a port.
"""

from __future__ import annotations

from tika_spark.analysis.mpegvideo import MpegError

TS_PACKET = 188
VIDEO_TYPES = {0x01, 0x02, 0x1B}    # MPEG-1/2 video, H.264 (AVC)
AUDIO_TYPES = {0x03, 0x04, 0x0F}    # MPEG-1/2 audio (MP3), ADTS AAC


def crc32_mpeg(data: bytes) -> int:
    """MPEG-2 PSI CRC-32: poly 0x04C11DB7, init 0xFFFFFFFF, no
    reflection, no final xor (ISO 13818-1 Annex A)."""
    crc = 0xFFFFFFFF
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            if crc & 0x80000000:
                crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
            else:
                crc = (crc << 1) & 0xFFFFFFFF
    return crc


def _section(payload: bytes, table_id: int) -> bytes:
    """Pointer-field skip + header check + CRC verify → the section
    bytes from table_id through (excluding) the CRC."""
    if not payload:
        raise MpegError("empty PSI payload")
    p = 1 + payload[0]                           # pointer_field
    if p + 3 > len(payload):
        raise MpegError("truncated PSI section")
    if payload[p] != table_id:
        raise MpegError(f"expected table 0x{table_id:02x}, "
                        f"got 0x{payload[p]:02x}")
    slen = int.from_bytes(payload[p + 1:p + 3], "big") & 0x0FFF
    end = p + 3 + slen
    if end > len(payload):
        raise MpegError("PSI section spans packets (unsupported)")
    sec = payload[p:end]
    if crc32_mpeg(sec) != 0:                     # CRC over all = 0
        raise MpegError("PSI section CRC mismatch")
    return sec[:-4]


def ts_streams(data: bytes) -> dict[int, tuple[int, bytes]]:
    """Transport stream → {elementary_PID: (stream_type, es_bytes)}.

    Full demux: PAT → PMT → per-PID PES reassembly → header strip.
    Raises MpegError on sync loss, bad PSI CRCs, or discontinuous
    counters."""
    if len(data) < TS_PACKET or data[0] != 0x47:
        raise MpegError("not an MPEG transport stream")
    pmt_pid = None
    streams: dict[int, int] = {}                 # pid -> stream_type
    pes: dict[int, list[bytearray]] = {}         # pid -> PES units
    last_cc: dict[int, int] = {}
    for off in range(0, len(data) - TS_PACKET + 1, TS_PACKET):
        pkt = data[off:off + TS_PACKET]
        if pkt[0] != 0x47:
            raise MpegError("lost TS packet synchronization")
        if pkt[1] & 0x80:
            continue                             # transport error bit
        pusi = (pkt[1] >> 6) & 1
        pid = ((pkt[1] & 0x1F) << 8) | pkt[2]
        afc = (pkt[3] >> 4) & 0x3
        cc = pkt[3] & 0x0F
        if pid == 0x1FFF or afc in (0, 2):
            continue                             # null / no payload
        body = pkt[4:]
        if afc == 3:                             # adaptation field
            alen = body[0]
            if 1 + alen > len(body):
                raise MpegError("bad adaptation field length")
            body = body[1 + alen:]
        if pid in streams:
            prev = last_cc.get(pid)
            if prev is not None and cc == prev:
                continue                         # duplicate packet
            if prev is not None and cc != (prev + 1) % 16:
                raise MpegError(f"continuity break on PID {pid}")
            last_cc[pid] = cc
        if pid == 0:                             # PAT
            if pmt_pid is not None:
                continue
            sec = _section(body, 0x00)
            # programs start after the 8-byte section header
            for i in range(8, len(sec), 4):
                prog = int.from_bytes(sec[i:i + 2], "big")
                if prog != 0:                    # 0 = network PID
                    pmt_pid = int.from_bytes(sec[i + 2:i + 4],
                                             "big") & 0x1FFF
                    break
            if pmt_pid is None:
                raise MpegError("PAT has no program entries")
            continue
        if pid == pmt_pid and not streams:       # PMT
            sec = _section(body, 0x02)
            pil = int.from_bytes(sec[10:12], "big") & 0x0FFF
            i = 12 + pil
            while i + 5 <= len(sec):
                stype = sec[i]
                epid = int.from_bytes(sec[i + 1:i + 3],
                                      "big") & 0x1FFF
                eil = int.from_bytes(sec[i + 3:i + 5],
                                     "big") & 0x0FFF
                streams[epid] = stype
                pes[epid] = []
                i += 5 + eil
            if not streams:
                raise MpegError("PMT lists no elementary streams")
            continue
        if pid in streams:
            units = pes[pid]
            if pusi:
                units.append(bytearray(body))
            elif units:
                units[-1] += body
    out: dict[int, tuple[int, bytes]] = {}
    for pid, units in pes.items():
        es = bytearray()
        for u in units:
            if len(u) < 9 or u[:3] != b"\x00\x00\x01":
                raise MpegError("bad PES start in TS payload")
            if u[6] >> 6 != 0b10:
                raise MpegError("non-MPEG-2 PES header in TS")
            hlen = u[8]
            if 9 + hlen > len(u):
                raise MpegError("truncated PES header in TS")
            es += u[9 + hlen:]
        out[pid] = (streams[pid], bytes(es))
    return out


def ts_video(data: bytes) -> tuple[int, bytes]:
    """(stream_type, elementary bytes) of the first video stream —
    0x01/0x02 feed mpegvideo.decode_mpeg1, 0x1B (H.264) feeds
    h264.decode_h264_annexb."""
    streams = ts_streams(data)
    for pid in sorted(streams):
        stype, es = streams[pid]
        if stype in VIDEO_TYPES and es:
            return stype, es
    raise MpegError("transport stream has no video stream")


def ts_video_es(data: bytes) -> bytes:
    """First video stream's elementary bytes (type-blind form)."""
    return ts_video(data)[1]


def ts_video_frames(data: bytes) -> list:
    """Full video decode of the first stream: MPEG-1/2 through
    mpegvideo, H.264 (stream_type 0x1B) through
    h264.decode_h264_annexb."""
    stype, es = ts_video(data)
    if stype == 0x1B:
        from tika_spark.analysis.h264 import decode_h264_annexb
        return decode_h264_annexb(es)
    from tika_spark.analysis.mpegvideo import decode_mpeg1
    return decode_mpeg1(es)[0]


def ts_audio_es(data: bytes) -> tuple[int, bytes]:
    """(stream_type, bytes) of the first audio stream — 0x03/0x04
    feed mp3codec.decode_mp3, 0x0F feeds aaccodec.decode_aac."""
    streams = ts_streams(data)
    for pid in sorted(streams):
        stype, es = streams[pid]
        if stype in AUDIO_TYPES and es:
            return stype, es
    raise MpegError("transport stream has no audio stream")


# ------------------------------------------------------ fixture mux

def _psi_packet(pid: int, section: bytes, cc: int) -> bytes:
    sec = section + crc32_mpeg(section).to_bytes(4, "big")
    body = bytes((0,)) + sec                     # pointer_field 0
    if len(body) > TS_PACKET - 4:
        raise MpegError("PSI section too large for one packet")
    pkt = bytearray((0x47, 0x40 | (pid >> 8), pid & 0xFF,
                     0x10 | cc))
    pkt += body
    pkt += b"\xff" * (TS_PACKET - len(pkt))      # PSI pads with FF
    return bytes(pkt)


def _pes_packets(pid: int, es: bytes, start_cc: int = 0) -> bytes:
    """One PES unit carrying ``es`` split over TS packets; the final
    partial packet is filled with adaptation-field stuffing."""
    hdr = b"\x00\x00\x01\xe0"
    body = b"\x80\x00\x00" + es                  # '10' flags, hlen 0
    plen = len(body) if len(body) <= 0xFFFF else 0
    unit = hdr + plen.to_bytes(2, "big") + body
    out = bytearray()
    cc = start_cc
    pos = 0
    first = True
    while pos < len(unit):
        chunk = unit[pos:pos + TS_PACKET - 4]
        pad = TS_PACKET - 4 - len(chunk)
        b1 = (0x40 if first else 0x00) | (pid >> 8)
        if pad == 0:
            out += bytes((0x47, b1, pid & 0xFF, 0x10 | cc))
        else:
            # adaptation field of exactly `pad` bytes
            out += bytes((0x47, b1, pid & 0xFF, 0x30 | cc))
            if pad == 1:
                out += bytes((0,))               # length-0 field
            else:
                out += bytes((pad - 1, 0))       # flags byte 0
                out += b"\xff" * (pad - 2)
        out += chunk
        pos += len(chunk)
        cc = (cc + 1) % 16
        first = False
    return bytes(out)


def ts_wrap(es: bytes, stream_type: int = 0x02,
            pid: int = 0x100, pmt_pid: int = 0x20) -> bytes:
    """Fixture muxer: PAT + PMT + one PES unit of ``es`` on ``pid``
    as ``stream_type``, CRC-correct and continuity-consistent."""
    pat = bytes((0x00, 0xB0, 0x0D,               # table, len 13
                 0x00, 0x01,                     # ts id
                 0xC1, 0x00, 0x00,               # version/current
                 0x00, 0x01,                     # program 1
                 0xE0 | (pmt_pid >> 8), pmt_pid & 0xFF))
    pmt = bytes((0x02, 0xB0, 0x12,               # table, len 18
                 0x00, 0x01,                     # program 1
                 0xC1, 0x00, 0x00,
                 0xE0 | (pid >> 8), pid & 0xFF,  # PCR PID
                 0xF0, 0x00,                     # no program info
                 stream_type,
                 0xE0 | (pid >> 8), pid & 0xFF,
                 0xF0, 0x00))                    # no ES info
    return (_psi_packet(0x0000, pat, 0)
            + _psi_packet(pmt_pid, pmt, 0)
            + _pes_packets(pid, es))


def mpegts_fixture(doc_id: int) -> bytes:
    """Deterministic .ts capture per document row: the
    :func:`tika_spark.analysis.mpegvideo.mpeg2_ps_fixture` video
    content re-muxed as a transport stream (same SQL-closed frame
    forms), with the elementary PID varying by row."""
    from tika_spark.analysis.mpegvideo import (mpeg2_ps_fixture,
                                               ps_video_es)
    es = ps_video_es(mpeg2_ps_fixture(doc_id))
    return ts_wrap(es, stream_type=0x02, pid=0x100 + doc_id % 16)
