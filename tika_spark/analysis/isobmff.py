"""From-scratch MP4 / ISO-BMFF (ISO/IEC 14496-12) sample demux.

Walks the box tree the way a real demuxer does — ``moov`` → ``trak``
→ ``mdia`` (handler + timescale) → ``stbl`` sample tables — and
resolves each track's access units from the four-table dance:
``stsc`` (sample-to-chunk runs) × ``stco``/``co64`` (chunk offsets)
× ``stsz`` (sample sizes) → byte ranges into ``mdat``. For ``mp4a``
audio tracks the ``esds`` descriptor chain (ES → DecoderConfig →
DecoderSpecificInfo) yields the AudioSpecificConfig, whose
object-type/rate/channel fields parameterize the raw-block AAC
decoder (:func:`tika_spark.analysis.aaccodec.decode_aac_raw`), so a
real ``.m4a``/``.mp4`` audio file decodes to PCM with zero external
libraries. :func:`mp4a_bytes` is the fixture muxer (ftyp + mdat +
full moov with a correct sample-table set).

Video tracks decode for REAL when they are H.264/AVC (``avc1``):
:func:`mp4_h264_frames` resolves the avcC record + length-prefixed
samples and runs the from-scratch I/P/B decoder
(:class:`tika_spark.analysis.h264.H264Decoder`); other video
fourccs surface codec + sample layout only and raise on pixel
decode.

Reference parity: the reference's MP4 handling is metadata-only
(mp4/MP4Parser.java via a vendored ISO-BMFF library); sample-level
demux + decode is the pipeline extension, not a port. Scale: all
per-row work inside mapInPandas, no shuffle.
"""

from __future__ import annotations

import struct

import numpy as np


class Mp4Error(ValueError):
    pass


# frequency index table shared with the ADTS header (ISO 14496-3)
_FREQS = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
          16000, 12000, 11025, 8000, 7350)


def iter_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in
    [start, end); handles 64-bit largesize and size-0 to-end."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos:pos + 4], "big")
        typ = data[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise Mp4Error(f"bad box size for {typ!r}")
        yield typ, pos + hdr, pos + size
        pos += size


def _child(data: bytes, start: int, end: int,
           fourcc: bytes) -> tuple[int, int] | None:
    for typ, b, e in iter_boxes(data, start, end):
        if typ == fourcc:
            return b, e
    return None


def _descend(data: bytes, start: int, end: int,
             path: list[bytes]) -> tuple[int, int] | None:
    span = (start, end)
    for fourcc in path:
        span = _child(data, span[0], span[1], fourcc)
        if span is None:
            return None
    return span


def _parse_esds(data: bytes, b: int, e: int) -> bytes:
    """esds full box → DecoderSpecificInfo (AudioSpecificConfig)
    bytes, walking the MPEG-4 descriptor chain with expandable
    lengths."""
    pos = b + 4                                  # version/flags

    def rd_tag():
        nonlocal pos
        tag = data[pos]
        pos += 1
        length = 0
        for _ in range(4):
            c = data[pos]
            pos += 1
            length = (length << 7) | (c & 0x7F)
            if not c & 0x80:
                break
        return tag, length

    tag, _ = rd_tag()
    if tag != 0x03:
        raise Mp4Error("esds: expected ES descriptor")
    flags = data[pos + 2]
    pos += 3
    if flags & 0x80:
        pos += 2                                 # dependsOn_ES_ID
    if flags & 0x40:
        pos += 1 + data[pos]                     # URL string
    if flags & 0x20:
        pos += 2                                 # OCR_ES_ID
    tag, _ = rd_tag()
    if tag != 0x04:
        raise Mp4Error("esds: expected DecoderConfig descriptor")
    pos += 13                                    # OTI..avg bitrate
    tag, dlen = rd_tag()
    if tag != 0x05:
        raise Mp4Error("esds: expected DecoderSpecificInfo")
    if pos + dlen > e:
        raise Mp4Error("esds: truncated DecoderSpecificInfo")
    return data[pos:pos + dlen]


def parse_asc(asc: bytes) -> tuple[int, int, int]:
    """AudioSpecificConfig → (audio_object_type, sample_rate,
    channels)."""
    if len(asc) < 2:
        raise Mp4Error("AudioSpecificConfig too short")
    v = int.from_bytes(asc[:5].ljust(5, b"\x00"), "big")
    aot = v >> 35
    idx = (v >> 31) & 0xF
    shift = 31
    if idx == 15:
        rate = (v >> 7) & 0xFFFFFF
        shift = 7
    else:
        if idx >= len(_FREQS):
            raise Mp4Error("bad sampling frequency index")
        rate = _FREQS[idx]
    nch = (v >> (shift - 4)) & 0xF
    return aot, rate, nch


def _samples_from_stbl(data: bytes, sb: int, se: int
                       ) -> list[tuple[int, int]]:
    """stbl → [(file_offset, size)] per sample, in sample order."""
    stsz = _child(data, sb, se, b"stsz")
    stsc = _child(data, sb, se, b"stsc")
    stco = _child(data, sb, se, b"stco")
    wide = False
    if stco is None:
        stco = _child(data, sb, se, b"co64")
        wide = True
    if stsz is None or stsc is None or stco is None:
        raise Mp4Error("incomplete sample table")
    b, e = stsz
    fixed = int.from_bytes(data[b + 4:b + 8], "big")
    n = int.from_bytes(data[b + 8:b + 12], "big")
    if fixed:
        # every sample holds `fixed` bytes of this file: a count the
        # file cannot hold is corrupt, and is refused before the
        # per-sample lists are built
        if n * fixed > len(data):
            raise Mp4Error("stsz declares more samples than the file holds")
        sizes = [fixed] * n
    else:
        if b + 12 + 4 * n > e:
            raise Mp4Error("truncated stsz")
        sizes = list(struct.unpack_from(f">{n}I", data, b + 12))
    b, e = stco
    nchunks = int.from_bytes(data[b + 4:b + 8], "big")
    fmt = "Q" if wide else "I"
    if b + 8 + struct.calcsize(fmt) * nchunks > e:
        raise Mp4Error("truncated stco")
    offs = list(struct.unpack_from(f">{nchunks}{fmt}", data, b + 8))
    b, e = stsc
    nruns = int.from_bytes(data[b + 4:b + 8], "big")
    if b + 8 + 12 * nruns > e:
        raise Mp4Error("truncated stsc")
    runs = [struct.unpack_from(">III", data, b + 8 + 12 * k)
            for k in range(nruns)]
    if any(not 1 <= first <= nchunks for first, _spc, _sdi in runs):
        raise Mp4Error("stsc names a chunk stco does not hold")
    out: list[tuple[int, int]] = []
    si = 0
    for k, (first, spc, _sdi) in enumerate(runs):
        last = runs[k + 1][0] - 1 if k + 1 < nruns else nchunks
        for chunk in range(first - 1, last):
            pos = offs[chunk]
            for _ in range(spc):
                if si >= n:
                    break
                out.append((pos, sizes[si]))
                pos += sizes[si]
                si += 1
    if si != n:
        raise Mp4Error("sample table resolves fewer samples "
                       "than stsz declares")
    return out


def mp4_tracks(data: bytes) -> list[dict]:
    """Box-tree walk → one dict per track: handler, codec fourcc,
    timescale, sample byte ranges, and (audio) the parsed
    AudioSpecificConfig fields."""
    data = bytes(data or b"")
    moov = _child(data, 0, len(data), b"moov")
    if moov is None:
        raise Mp4Error("no moov box")
    tracks = []
    for typ, tb, te in iter_boxes(data, moov[0], moov[1]):
        if typ != b"trak":
            continue
        mdia = _child(data, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _child(data, mdia[0], mdia[1], b"hdlr")
        mdhd = _child(data, mdia[0], mdia[1], b"mdhd")
        stbl = _descend(data, mdia[0], mdia[1],
                        [b"minf", b"stbl"])
        if hdlr is None or mdhd is None or stbl is None:
            continue
        handler = data[hdlr[0] + 8:hdlr[0] + 12].decode(
            "ascii", "replace")
        hb = mdhd[0]
        ver = data[hb]
        timescale = int.from_bytes(
            data[hb + 20:hb + 24] if ver == 1
            else data[hb + 12:hb + 16], "big")
        stsd = _child(data, stbl[0], stbl[1], b"stsd")
        if stsd is None:
            continue
        entry_b = stsd[0] + 8                    # ver/flags + count
        codec = data[entry_b + 4:entry_b + 8].decode(
            "ascii", "replace")
        track = {"handler": handler, "codec": codec,
                 "timescale": timescale,
                 "samples": _samples_from_stbl(data, stbl[0],
                                               stbl[1])}
        if handler == "soun" and codec == "mp4a":
            # AudioSampleEntry: 8 reserved/dataref + 8
            # version/revision/vendor + ch(2) + bits(2) + 4 + rate(4)
            ab = entry_b + 8 + 8
            esds_span = None
            entry_end = entry_b + int.from_bytes(
                data[entry_b:entry_b + 4], "big")
            esds_span = _child(data, ab + 20, entry_end, b"esds")
            if esds_span is not None:
                asc = _parse_esds(data, esds_span[0], esds_span[1])
                aot, rate, nch = parse_asc(asc)
                track.update(asc=asc, object_type=aot,
                             sample_rate=rate, channels=nch)
        tracks.append(track)
    if not tracks:
        raise Mp4Error("moov has no usable tracks")
    return tracks


def mp4_audio(data: bytes) -> tuple[list[bytes], int, int]:
    """First mp4a audio track → (access_units, sample_rate,
    channels)."""
    data = bytes(data or b"")
    for track in mp4_tracks(data):
        if track["handler"] == "soun" and track["codec"] == "mp4a" \
                and "sample_rate" in track:
            aus = []
            for off, size in track["samples"]:
                if off + size > len(data):
                    raise Mp4Error("sample range beyond file end")
                aus.append(data[off:off + size])
            if not aus:
                raise Mp4Error("audio track has no samples")
            return aus, track["sample_rate"], track["channels"]
    raise Mp4Error("no mp4a audio track")


def decode_mp4_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Full .m4a/.mp4 audio decode: demux to raw access units, then
    the raw-block AAC-LC path."""
    from tika_spark.analysis.aaccodec import decode_aac_raw
    aus, rate, _nch = mp4_audio(data)
    return decode_aac_raw(aus, rate)


# ------------------------------------------------------ fixture mux

def _box(fourcc: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + fourcc + body


def _full(fourcc: bytes, body: bytes, version: int = 0,
          flags: int = 0) -> bytes:
    return _box(fourcc, bytes((version,))
                + flags.to_bytes(3, "big") + body)


def _desc(tag: int, body: bytes) -> bytes:
    if len(body) > 127:
        raise Mp4Error("fixture descriptors stay single-length-byte")
    return bytes((tag, len(body))) + body


def mp4a_bytes(aus: list[bytes], rate_index: int = 4,
               channels: int = 1) -> bytes:
    """Fixture muxer: raw AAC-LC access units → a complete .m4a
    (ftyp + mdat + moov with mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/
    smhd/dinf/stbl and a correct stsd(mp4a+esds)/stts/stsc/stsz/
    stco set, one chunk)."""
    rate = _FREQS[rate_index]
    n = len(aus)
    dur = 1024 * n
    ftyp = _box(b"ftyp", b"M4A " + b"\x00\x00\x00\x00"
                + b"isomiso2")
    mdat = _box(b"mdat", b"".join(aus))
    mdat_body = len(ftyp) + 8                    # offset of chunk 0
    asc_bits = (2 << 11) | (rate_index << 7) | (channels << 3)
    asc = asc_bits.to_bytes(2, "big")
    esds = _full(b"esds", _desc(
        0x03,
        b"\x00\x00\x00"                          # ES_ID + flags
        + _desc(0x04, bytes((0x40, 0x15)) + b"\x00\x00\x00"
                + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
                + _desc(0x05, asc))
        + _desc(0x06, b"\x02")))
    sample_entry = (
        b"\x00" * 6 + (1).to_bytes(2, "big")     # reserved + dataref
        + b"\x00" * 8                            # ver/rev/vendor
        + channels.to_bytes(2, "big")
        + (16).to_bytes(2, "big")                # sample size
        + b"\x00" * 4
        + (rate << 16).to_bytes(4, "big")        # 16.16 rate
        + esds)
    stsd = _full(b"stsd", (1).to_bytes(4, "big")
                 + _box(b"mp4a", sample_entry))
    stts = _full(b"stts", (1).to_bytes(4, "big")
                 + n.to_bytes(4, "big") + (1024).to_bytes(4, "big"))
    stsc = _full(b"stsc", (1).to_bytes(4, "big")
                 + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
                 + (1).to_bytes(4, "big"))
    stsz = _full(b"stsz", (0).to_bytes(4, "big")
                 + n.to_bytes(4, "big")
                 + b"".join(len(a).to_bytes(4, "big") for a in aus))
    stco = _full(b"stco", (1).to_bytes(4, "big")
                 + mdat_body.to_bytes(4, "big"))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", (1).to_bytes(4, "big")
                 + _full(b"url ", b"", flags=1))
    minf = _box(b"minf",
                _full(b"smhd", b"\x00" * 4)
                + _box(b"dinf", dref) + stbl)
    hdlr = _full(b"hdlr", b"\x00" * 4 + b"soun"
                 + b"\x00" * 12 + b"\x00")
    mdhd = _full(b"mdhd", (0).to_bytes(8, "big")
                 + rate.to_bytes(4, "big") + dur.to_bytes(4, "big")
                 + b"\x55\xc4\x00\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    matrix = (b"\x00\x01\x00\x00" + b"\x00" * 12
              + b"\x00\x01\x00\x00" + b"\x00" * 12
              + b"\x40\x00\x00\x00")
    tkhd = _full(b"tkhd", (0).to_bytes(8, "big")
                 + (1).to_bytes(4, "big") + b"\x00" * 4
                 + dur.to_bytes(4, "big") + b"\x00" * 8
                 + b"\x00\x00\x00\x00\x01\x00\x00\x00"
                 + matrix + b"\x00" * 8, flags=7)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", (0).to_bytes(8, "big")
                 + rate.to_bytes(4, "big") + dur.to_bytes(4, "big")
                 + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
                 + matrix + b"\x00" * 24 + (2).to_bytes(4, "big"))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def adts_to_aus(adts: bytes) -> tuple[list[bytes], int]:
    """Strip ADTS framing → (raw access units, sample_rate). The
    bridge between the ADTS fixture encoder and the MP4 muxer."""
    from tika_spark.analysis.aaccodec import parse_adts_header
    aus: list[bytes] = []
    rate = 0
    pos = 0
    while pos + 7 <= len(adts):
        hdr = parse_adts_header(adts, pos)
        if hdr is None:
            raise Mp4Error("not an ADTS stream")
        rate = hdr["rate"]
        aus.append(adts[pos + hdr["header_bytes"]
                        :pos + hdr["frame_length"]])
        pos += hdr["frame_length"]
    if not aus:
        raise Mp4Error("no ADTS frames")
    return aus, rate


def m4a_fixture(doc_id: int) -> bytes:
    """Deterministic .m4a per document row: silent AAC-LC access
    units (spectra all zero — exactly-zero PCM through the linear
    tool chain) muxed into a full ISO-BMFF file. Closed forms:
    n_frames = 1 + doc_id % 4, channels = 1 + doc_id % 2,
    rate = 44100 when doc_id is even else 48000; window sequence
    and codebook vary by row to exercise the raw-block parse."""
    from tika_spark.analysis.aaccodec import EIGHT_SHORT, aac_bytes
    n_frames = 1 + doc_id % 4
    nch = 1 + doc_id % 2
    rate_index = 4 - doc_id % 2
    ws = doc_id % 4
    if ws == EIGHT_SHORT:
        spec = [np.zeros(128, dtype=np.int64)] * 8
    else:
        spec = np.zeros(1024, dtype=np.int64)
    adts = aac_bytes([[spec] * nch] * n_frames,
                     rate_index=rate_index,
                     window_sequence=ws,
                     codebook=1 + doc_id % 4,
                     global_gain=100 + doc_id % 20)
    aus, _rate = adts_to_aus(adts)
    return mp4a_bytes(aus, rate_index=rate_index, channels=nch)


def heif_dims(data: bytes):
    """AVIF/HEIC image dimensions: meta → iprp → ipco → ispe
    (ImageSpatialExtents, a FullBox of width/height uint32). Returns
    the LARGEST ispe (thumbnails carry their own smaller ones), or
    None."""
    data = bytes(data or b"")
    best = None
    for fourcc, b, e in iter_boxes(data, 0, len(data)):
        if fourcc != b"meta":
            continue
        # meta is a FullBox: 4 bytes version/flags before children
        span = _descend(data, b + 4, e, [b"iprp", b"ipco"])
        if span is None:
            continue
        cb, ce = span
        for fc, ib, ie in iter_boxes(data, cb, ce):
            if fc == b"ispe" and ie - ib >= 12:
                w = int.from_bytes(data[ib + 4:ib + 8], "big")
                h = int.from_bytes(data[ib + 8:ib + 12], "big")
                if w and h and (best is None or w * h > best[0] * best[1]):
                    best = (w, h)
    return best


def heif_bytes(width: int, height: int, brand: bytes = b"avif",
               thumb: tuple | None = None) -> bytes:
    """Minimal AVIF/HEIC fixture: ftyp + meta/iprp/ipco with one (or
    two, with ``thumb``) ispe property boxes. Payload-free (the
    metadata tier reads dimensions only)."""
    ftyp = _box(b"ftyp", brand + (0).to_bytes(4, "big") + brand)
    ispe = _full(b"ispe", width.to_bytes(4, "big")
                 + height.to_bytes(4, "big"))
    props = ispe
    if thumb:
        props += _full(b"ispe", thumb[0].to_bytes(4, "big")
                       + thumb[1].to_bytes(4, "big"))
    ipco = _box(b"ipco", props)
    iprp = _box(b"iprp", ipco)
    hdlr = _full(b"hdlr", (0).to_bytes(4, "big") + b"pict"
                 + b"\x00" * 12 + b"\x00")
    meta = _full(b"meta", hdlr + iprp)
    return ftyp + meta


# --------------------------------------------------------- AVC video
# (H.264 intra tier: tika_spark.analysis.h264.  Reference parity:
# mp4/MP4Parser.java is metadata-only; sample decode is the
# training-pipeline extension.)

_VISUAL_ENTRY_FIXED = 78     # bytes before the child boxes of avc1


def parse_avcc(data: bytes, b: int, e: int) -> dict:
    """AVCDecoderConfigurationRecord -> SPS/PPS NALs + NAL length
    size."""
    if e - b < 7 or data[b] != 1:
        raise Mp4Error("bad avcC record")
    length_size = (data[b + 4] & 3) + 1
    n_sps = data[b + 5] & 0x1F
    p = b + 6
    sps = []
    for _ in range(n_sps):
        ln = int.from_bytes(data[p:p + 2], "big")
        p += 2
        sps.append(data[p:p + ln])
        p += ln
    n_pps = data[p]
    p += 1
    pps = []
    for _ in range(n_pps):
        ln = int.from_bytes(data[p:p + 2], "big")
        p += 2
        pps.append(data[p:p + ln])
        p += ln
    return {"length_size": length_size, "sps": sps, "pps": pps}


def mp4_avc_track(data: bytes) -> tuple[dict, dict]:
    """First avc1 video track -> (track dict, avcC dict)."""
    data = bytes(data or b"")
    moov = _child(data, 0, len(data), b"moov")
    if moov is None:
        raise Mp4Error("no moov box")
    for typ, tb, te in iter_boxes(data, moov[0], moov[1]):
        if typ != b"trak":
            continue
        mdia = _child(data, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _child(data, mdia[0], mdia[1], b"hdlr")
        if hdlr is None or data[hdlr[0] + 8:hdlr[0] + 12] != b"vide":
            continue
        stbl = _descend(data, mdia[0], mdia[1], [b"minf", b"stbl"])
        if stbl is None:
            continue
        stsd = _child(data, stbl[0], stbl[1], b"stsd")
        if stsd is None:
            continue
        entry_b = stsd[0] + 8
        if data[entry_b + 4:entry_b + 8] != b"avc1":
            continue
        entry_end = entry_b + int.from_bytes(data[entry_b:entry_b + 4],
                                             "big")
        w = int.from_bytes(data[entry_b + 32:entry_b + 34], "big")
        h = int.from_bytes(data[entry_b + 34:entry_b + 36], "big")
        avcc = _child(data, entry_b + 8 + _VISUAL_ENTRY_FIXED,
                      entry_end, b"avcC")
        if avcc is None:
            raise Mp4Error("avc1 entry without avcC")
        track = {"width": w, "height": h,
                 "samples": _samples_from_stbl(data, stbl[0],
                                               stbl[1])}
        return track, parse_avcc(data, avcc[0], avcc[1])
    raise Mp4Error("no avc1 video track")


def fmp4_samples(data: bytes) -> list[tuple[int, int]]:
    """Sample (offset, size) spans of every movie fragment
    (ISO/IEC 14496-12 §8.8): top-level ``moof`` walk → per ``traf``
    the ``tfhd`` defaults (base-data-offset / default-base-is-moof /
    default-sample-size) then each ``trun``'s data_offset + sizes.
    CMAF — the wire format of DASH/HLS segments — is exactly this
    layout. Runs without a data_offset are rejected loudly (never
    produced by CMAF packagers)."""
    samples: list[tuple[int, int]] = []
    pos = 0
    n = len(data)
    while pos + 8 <= n:
        size = int.from_bytes(data[pos:pos + 4], "big")
        typ = data[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = n - pos
        if size < hdr or pos + size > n:
            raise Mp4Error("bad top-level box size")
        if typ == b"moof":
            moof_start = pos
            for t2, b2, e2 in iter_boxes(data, pos + hdr,
                                         pos + size):
                if t2 != b"traf":
                    continue
                base = moof_start
                def_size = None
                for t3, b3, e3 in iter_boxes(data, b2, e2):
                    if t3 == b"tfhd":
                        flags = int.from_bytes(data[b3 + 1:b3 + 4],
                                               "big")
                        p = b3 + 8          # past version/flags+id
                        if flags & 0x1:
                            base = int.from_bytes(
                                data[p:p + 8], "big")
                            p += 8
                        if flags & 0x2:
                            p += 4
                        if flags & 0x8:
                            p += 4
                        if flags & 0x10:
                            def_size = int.from_bytes(
                                data[p:p + 4], "big")
                            p += 4
                        if flags & 0x20000:  # default-base-is-moof
                            base = moof_start
                    elif t3 == b"trun":
                        flags = int.from_bytes(data[b3 + 1:b3 + 4],
                                               "big")
                        p = b3 + 4
                        cnt = int.from_bytes(data[p:p + 4], "big")
                        p += 4
                        if not flags & 0x1:
                            raise Mp4Error(
                                "trun without data_offset")
                        doff = int.from_bytes(data[p:p + 4], "big",
                                              signed=True)
                        p += 4
                        if flags & 0x4:
                            p += 4          # first_sample_flags
                        off = base + doff
                        for _ in range(cnt):
                            if flags & 0x100:
                                p += 4
                            if flags & 0x200:
                                ssz = int.from_bytes(
                                    data[p:p + 4], "big")
                                p += 4
                            elif def_size is not None:
                                ssz = def_size
                            else:
                                raise Mp4Error(
                                    "trun sample without size")
                            if flags & 0x400:
                                p += 4
                            if flags & 0x800:
                                p += 4
                            samples.append((off, ssz))
                            off += ssz
        pos += size
    return samples


def mp4_h264_frames(data: bytes) -> list:
    """Demux + full decode (I, P and B slices) of the first avc1
    track -> list of (h, w, 3) RGB uint8 frames. Classic and
    fragmented (CMAF) layouts both work: stbl samples first, then
    any moof-carried samples in fragment order."""
    from tika_spark.analysis.h264 import H264Decoder, split_avcc
    data = bytes(data or b"")
    track, avcc = mp4_avc_track(data)
    samples = list(track["samples"]) + fmp4_samples(data)

    def nals():
        yield from avcc["sps"] + avcc["pps"]
        for off, size in samples:
            if off + size > len(data):
                raise Mp4Error("sample range beyond file end")
            yield from split_avcc(data[off:off + size],
                                  avcc["length_size"])
    return H264Decoder().decode(nals(), Mp4Error)


def mp4_h264_slice_census(data: bytes) -> list[dict]:
    """Entropy-mode-independent per-slice census of the first avc1
    track (slice type, frame_num, POC lsb, IDR flag, entropy mode,
    NAL size) — works for the CABAC Main/High-profile web MP4
    majority that the CAVLC pixel decoder must status-row, because
    slice HEADERS are plain Exp-Golomb (h264.parse_slice_header).
    Classic and fragmented layouts both walk."""
    from tika_spark.analysis.h264 import slice_census, split_avcc
    data = bytes(data or b"")
    track, avcc = mp4_avc_track(data)
    nals = list(avcc["sps"]) + list(avcc["pps"])
    samples = list(track["samples"]) + fmp4_samples(data)
    for off, size in samples:
        if off + size > len(data):
            raise Mp4Error("sample range beyond file end")
        nals.extend(split_avcc(data[off:off + size],
                               avcc["length_size"]))
    return slice_census(nals)


def video_h264_cabac_fixture(doc_id: int) -> bytes:
    """Deterministic Main-profile CABAC .mp4 fixture: pattern
    I + ("PB"-cycle of 2+id%4 more slices), spec-valid Exp-Golomb
    slice headers, opaque CABAC payload (see h264.cabac_slice_nals).
    Census reads it fully; pixel decoders must refuse cleanly."""
    from tika_spark.analysis.h264 import cabac_slice_nals
    did = int(doc_id)
    pattern = "I" + "".join("PB"[(did + k) % 2]
                            for k in range(2 + did % 4))
    nals = cabac_slice_nals(pattern, seed=did)
    sps_nal, pps_nal = nals[0], nals[1]
    samples = [len(n).to_bytes(4, "big") + n for n in nals[2:]]
    return _mux_avc(samples, sps_nal, pps_nal, 16, 16, 25)


def avc_bytes(frames: list, width: int, height: int, qp: int = 28,
              plan: str = "i16dc", fps: int = 25) -> bytes:
    """Fixture muxer: (y, u, v) planes -> a complete .mp4 with one
    avc1 video track (every sample an IDR I-slice from the
    from-scratch encoder; SPS/PPS carried in avcC)."""
    from tika_spark.analysis.h264 import H264Encoder, _nal
    enc = H264Encoder(width, height, qp)
    sps_nal = _nal(7, enc.sps_rbsp())
    pps_nal = _nal(8, enc.pps_rbsp())
    samples = []
    for y, u, v in frames:
        import numpy as _np
        nal = _nal(5, enc.encode_frame(_np.asarray(y, dtype="uint8"),
                                       _np.asarray(u, dtype="uint8"),
                                       _np.asarray(v, dtype="uint8"),
                                       plan))
        samples.append(len(nal).to_bytes(4, "big") + nal)
    return _mux_avc(samples, sps_nal, pps_nal, width, height, fps)


def avc_frag_bytes(frames: list, width: int, height: int,
                   qp: int = 28, plan: str = "i16dc") -> bytes:
    """Fixture muxer: CMAF-style FRAGMENTED .mp4 — an init segment
    (ftyp + moov whose stbl is empty and whose mvex/trex announces
    fragments) followed by one moof+mdat pair per IDR sample
    (tfhd default-base-is-moof, trun data_offset+sizes) — the wire
    shape of DASH/HLS segments."""
    import numpy as _np

    from tika_spark.analysis.h264 import H264Encoder, _nal
    enc = H264Encoder(width, height, qp)
    sps_nal = _nal(7, enc.sps_rbsp())
    pps_nal = _nal(8, enc.pps_rbsp())
    samples = []
    for y, u, v in frames:
        nal = _nal(5, enc.encode_frame(
            _np.asarray(y, dtype="uint8"),
            _np.asarray(u, dtype="uint8"),
            _np.asarray(v, dtype="uint8"), plan))
        samples.append(len(nal).to_bytes(4, "big") + nal)
    init = _mux_avc([], sps_nal, pps_nal, width, height, 25,
                    fragmented=True)
    out = bytearray(init)
    for k, s in enumerate(samples, 1):
        mfhd = _full(b"mfhd", k.to_bytes(4, "big"))
        tfhd = _full(b"tfhd", (1).to_bytes(4, "big"),
                     flags=0x20000)
        # moof = 8 + mfhd(16) + traf(8 + tfhd(16) + trun(24)) = 72
        trun = _full(b"trun", (1).to_bytes(4, "big")
                     + (80).to_bytes(4, "big")
                     + len(s).to_bytes(4, "big"), flags=0x201)
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + trun))
        assert len(moof) == 72
        out += moof + _box(b"mdat", s)
    return bytes(out)


def _mux_avc(samples: list, sps_nal: bytes, pps_nal: bytes,
             width: int, height: int, fps: int,
             fragmented: bool = False) -> bytes:
    """Shared avc1 box assembly for the intra and IPPP muxers."""
    n = len(samples)
    tick = 1000 // fps
    dur = tick * n
    ftyp = _box(b"ftyp", b"isom" + b"\x00\x00\x02\x00"
                + b"isomiso2avc1")
    mdat = _box(b"mdat", b"".join(samples))
    chunk0 = len(ftyp) + 8
    avcc = _box(b"avcC", bytes((1, 66, 0, 30, 0xFF, 0xE1))
                + len(sps_nal).to_bytes(2, "big") + sps_nal
                + bytes((1,))
                + len(pps_nal).to_bytes(2, "big") + pps_nal)
    sample_entry = (
        b"\x00" * 6 + (1).to_bytes(2, "big")
        + b"\x00" * 16
        + width.to_bytes(2, "big") + height.to_bytes(2, "big")
        + (0x48 << 16).to_bytes(4, "big")
        + (0x48 << 16).to_bytes(4, "big")
        + b"\x00" * 4 + (1).to_bytes(2, "big")
        + b"\x00" * 32
        + (24).to_bytes(2, "big") + b"\xff\xff"
        + avcc)
    stsd = _full(b"stsd", (1).to_bytes(4, "big")
                 + _box(b"avc1", sample_entry))
    stts = _full(b"stts", (1).to_bytes(4, "big")
                 + n.to_bytes(4, "big") + tick.to_bytes(4, "big"))
    stsc = _full(b"stsc", (1).to_bytes(4, "big")
                 + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
                 + (1).to_bytes(4, "big"))
    stsz = _full(b"stsz", (0).to_bytes(4, "big")
                 + n.to_bytes(4, "big")
                 + b"".join(len(s).to_bytes(4, "big")
                            for s in samples))
    stco = _full(b"stco", (1).to_bytes(4, "big")
                 + chunk0.to_bytes(4, "big"))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", (1).to_bytes(4, "big")
                 + _full(b"url ", b"", flags=1))
    minf = _box(b"minf", _full(b"vmhd", b"\x00" * 8, flags=1)
                + _box(b"dinf", dref) + stbl)
    hdlr = _full(b"hdlr", b"\x00" * 4 + b"vide"
                 + b"\x00" * 12 + b"\x00")
    mdhd = _full(b"mdhd", (0).to_bytes(8, "big")
                 + (1000).to_bytes(4, "big") + dur.to_bytes(4, "big")
                 + b"\x55\xc4\x00\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    matrix = (b"\x00\x01\x00\x00" + b"\x00" * 12
              + b"\x00\x01\x00\x00" + b"\x00" * 12
              + b"\x40\x00\x00\x00")
    tkhd = _full(b"tkhd", (0).to_bytes(8, "big")
                 + (1).to_bytes(4, "big") + b"\x00" * 4
                 + dur.to_bytes(4, "big") + b"\x00" * 8
                 + b"\x00\x00\x00\x00\x01\x00\x00\x00"
                 + matrix
                 + (width << 16).to_bytes(4, "big")
                 + (height << 16).to_bytes(4, "big"), flags=7)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", (0).to_bytes(8, "big")
                 + (1000).to_bytes(4, "big") + dur.to_bytes(4, "big")
                 + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
                 + matrix + b"\x00" * 24 + (2).to_bytes(4, "big"))
    if fragmented:
        trex = _full(b"trex", (1).to_bytes(4, "big")
                     + (1).to_bytes(4, "big")
                     + (0).to_bytes(4, "big") * 3)
        moov = _box(b"moov", mvhd + trak + _box(b"mvex", trex))
        return ftyp + moov
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def video_h264_fixture(doc_id: int) -> bytes:
    """Deterministic .mp4 fixture: n = 2 + id%3 solid 16x16 frames,
    Y = (id*13 + 19*k) % 256 for frame k, chroma neutral (128).
    Even ids carry I_PCM macroblocks (bit-exact), odd ids
    Intra_16x16-DC at qp=28 — where the LS·MF = 2^17 identity makes
    the DC path exactly lossless too, so every frame's decoded gray
    is the BT.601 closed form of Y the oracle replays in SQL."""
    import numpy as np
    did = int(doc_id)
    n = 2 + did % 3
    frames = []
    for k in range(n):
        yv = (did * 13 + 19 * k) % 256
        frames.append((np.full((16, 16), yv, np.uint8),
                       np.full((8, 8), 128, np.uint8),
                       np.full((8, 8), 128, np.uint8)))
    plan = "pcm" if did % 2 == 0 else "i16dc"
    return avc_bytes(frames, 16, 16, qp=28, plan=plan)


def video_h264_cmaf_fixture(doc_id: int) -> bytes:
    """video_h264_fixture's FRAGMENTED twin: same frames, same
    pcm/i16dc alternation, muxed CMAF-style (init segment +
    moof/mdat per sample) — the DASH/HLS segment wire shape."""
    import numpy as np
    did = int(doc_id)
    n = 2 + did % 3
    frames = []
    for k in range(n):
        yv = (did * 13 + 19 * k) % 256
        frames.append((np.full((16, 16), yv, np.uint8),
                       np.full((8, 8), 128, np.uint8),
                       np.full((8, 8), 128, np.uint8)))
    plan = "pcm" if did % 2 == 0 else "i16dc"
    return avc_frag_bytes(frames, 16, 16, qp=28, plan=plan)


def avc_p_bytes(frames: list, width: int, height: int, qp: int = 28,
                plan: str = "pan16", base_mv: tuple = (64, 0),
                fps: int = 25) -> bytes:
    """Fixture muxer: IPPP .mp4 — sample 0 an IDR keyframe, the rest
    motion-compensated P slices from the inter encoder
    (analysis/h264inter.py)."""
    import numpy as _np

    from tika_spark.analysis.h264 import _nal
    from tika_spark.analysis.h264inter import H264InterEncoder
    enc = H264InterEncoder(width, height, qp)
    sps_nal = _nal(7, enc.sps_rbsp())
    pps_nal = _nal(8, enc.pps_rbsp())
    samples = []
    ref = None
    for k, (y, u, v) in enumerate(frames):
        y = _np.asarray(y, dtype=_np.uint8)
        u = _np.asarray(u, dtype=_np.uint8)
        v = _np.asarray(v, dtype=_np.uint8)
        if k == 0:
            nal = _nal(5, enc.encode_frame(y, u, v, "i16dc"))
        else:
            nal = _nal(1, enc.encode_p_frame(y, u, v, ref,
                                             enc._last_f, k, plan,
                                             base_mv), ref=2)
        lf = enc._last_f
        ref = (lf.y.copy(), lf.u.copy(), lf.v.copy())
        samples.append(len(nal).to_bytes(4, "big") + nal)
    return _mux_avc(samples, sps_nal, pps_nal, width, height, fps)


def video_h264p_fixture(doc_id: int) -> bytes:
    """Deterministic IPPP .mp4: 32x16 two-tone keyframe (left 16px
    gray c0, right c1), then 1-2 P frames panning one MB left
    (P_L0_16x16 MV (+16, 0) px, edge extension fills c1) — every P
    frame decodes to solid c1 with zero residual, skip runs
    exercised, all means exact BT.601 closed forms."""
    import numpy as np
    did = int(doc_id)
    c0 = (did * 19 + 3) % 256
    c1 = (did * 7 + 90) % 256
    f0 = np.empty((16, 32), np.uint8)
    f0[:, :16] = c0
    f0[:, 16:] = c1
    f1 = np.full((16, 32), c1, np.uint8)
    u = np.full((8, 16), 128, np.uint8)
    frames = [(f0, u, u)] + [(f1, u, u)] * (1 + did % 2)
    return avc_p_bytes(frames, 32, 16, qp=28, plan="pan16",
                       base_mv=(64, 0))


def avc_b_bytes(frames: list, width: int, height: int,
                qp: int = 28, fps: int = 25) -> bytes:
    """Fixture muxer: IBP .mp4 — display-order frames encoded as
    I P B (P before B in decode order, POC carries display order;
    B macroblocks cycle L0/L1/Bi).  Samples are stored in DECODE
    order; the demuxer's POC sort restores display order."""
    import numpy as _np

    from tika_spark.analysis.h264 import _nal
    from tika_spark.analysis.h264inter import H264BiEncoder
    enc = H264BiEncoder(width, height, qp)
    sps_nal = _nal(7, enc.sps_rbsp())
    pps_nal = _nal(8, enc.pps_rbsp())

    def planes(k):
        y, u, v = frames[k]
        return (_np.asarray(y, dtype=_np.uint8),
                _np.asarray(u, dtype=_np.uint8),
                _np.asarray(v, dtype=_np.uint8))

    samples = []

    def add(nal):
        samples.append(len(nal).to_bytes(4, "big") + nal)

    enc._poc_lsb = 0
    add(_nal(5, enc.encode_frame(*planes(0), "i16dc")))
    lf = enc._last_f
    past = (lf.y.copy(), lf.u.copy(), lf.v.copy())
    fnum, k = 1, 1
    while k < len(frames):
        if k + 1 < len(frames):
            enc._poc_lsb = 2 * (k + 1)
            add(_nal(1, enc.encode_p_frame(*planes(k + 1), past,
                                           enc._last_f, fnum,
                                           "pan16", (0, 0)), ref=2))
            lf = enc._last_f
            fut = (lf.y.copy(), lf.u.copy(), lf.v.copy())
            fnum += 1
            enc._poc_lsb = 2 * k
            add(_nal(1, enc.encode_b_frame(*planes(k), past, fut,
                                           fnum), ref=0))
            past = fut
            k += 2
        else:
            enc._poc_lsb = 2 * k
            add(_nal(1, enc.encode_p_frame(*planes(k), past,
                                           enc._last_f, fnum,
                                           "pan16", (0, 0)), ref=2))
            lf = enc._last_f
            past = (lf.y.copy(), lf.u.copy(), lf.v.copy())
            fnum += 1
            k += 1
    return _mux_avc(samples, sps_nal, pps_nal, width, height, fps)


def video_h264b_fixture(doc_id: int) -> bytes:
    """Deterministic IBP .mp4: n = 3 + id%2 solid 16x16 frames in
    display order, Y = 8 * ((id*5 + 7*k) % 32) — multiples of 8 keep
    every P/B residual divisible by 4, so the plain-4x4 quantizer at
    qp=28 is exact and each displayed frame is its closed-form
    gray.  Sample order is decode order (I P B [P]): the query
    green-lights POC-based display reordering."""
    import numpy as np
    did = int(doc_id)
    n = 3 + did % 2
    u = np.full((8, 8), 128, np.uint8)
    frames = [(np.full((16, 16),
                       8 * ((did * 5 + 7 * k) % 32), np.uint8), u, u)
              for k in range(n)]
    return avc_b_bytes(frames, 16, 16, qp=28)
