"""Video columns: MJPEG-in-AVI container parse + frame sampling.

The training-data-pipeline video tier: videos ride the pages/media
table as opaque ``binary`` payloads; a ``mapInPandas`` stage parses
the container, samples frames at deterministic indices, and decodes
each sampled frame with the from-scratch baseline JPEG decoder
(:mod:`tika_spark.analysis.jpegcodec`) — one Arrow pass, one output
row per sampled frame, errors as status rows (H1 fault isolation).

MJPEG (Motion JPEG) is the one mainstream video codec whose frames
are plain JPEG images, so the full pipeline — container demux, frame
selection, pixel decode, per-frame stats — runs with zero external
codec libraries. Two codecs add real INTER-frame paths: MS-RLE8
(:func:`decode_rle8`), whose skip escapes show the previous frame
through, and MS Video 1 / CRAM (:func:`decode_msvc`, 8 and 16 bpp),
whose multi-block skip codes do the same over 4×4 vector-quantized
blocks — frames compose across the chain exactly like the GIF
disposal rules. MPEG-1 gets the full motion-compensated transform
treatment (I/P/B pictures, display reordering, program-stream
demux) in :mod:`tika_spark.analysis.mpegvideo`; H.264/AVC CAVLC
I/P/B slices decode for real via :class:`tika_spark.analysis.h264.
H264Decoder` (MP4 avc1, MPEG-TS 0x1B, FLV, Matroska), and VP8 via
:mod:`tika_spark.analysis.vp8inter`. A stream
no decoder here reads (CABAC H.264, H.265) raises, which the
operators turn into a status row.

:func:`frame_rows` is the one per-frame walk of the frame operators
(:func:`sample_frame_stats` here, ``videohash.video_dhash``); both run
on :func:`tika_spark.analysis.spread.decode_stage`.

Scale design: frame sampling is per-row work (no shuffle); the
binary column crosses into Python once; sampled-frame stats rows are
tiny. Giant videos follow the same size-bucket skew defusal as giant
pages (pipeline/job.py). Reference parity: the reference's video
coverage is metadata-only (video/FLVParser.java; mp4/MP4Parser.java
duration) — frame decode is the pipeline extension, not a port.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

VIDEO_FRAME_SCHEMA = ("id long, frame_idx int, n_frames int, "
                      "width int, height int, mean_micro array<int>, "
                      "status string")


# ------------------------------------------------------------ AVI container

def avi_mjpeg_bytes(frames: list[bytes], width: int, height: int,
                    fps: int = 25) -> bytes:
    """Minimal-but-valid AVI RIFF wrapper around pre-encoded JPEG
    frames (fixture builder): hdrl (avih + one 'vids'/'MJPG' strl),
    movi with one '00dc' chunk per frame, idx1 index."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    n = len(frames)
    max_bytes = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // max(fps, 1),  # us per frame
        max_bytes * fps,           # max bytes/sec
        0, 0x10,                   # padding, flags (HASINDEX)
        n, 0, 1, max_bytes,        # frames, initial, streams, bufsize
        width, height, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,                    # scale, rate
        0, n, max_bytes, 0xFFFFFFFF, 0,
        0, 0, width, height)
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame, offsets relative to 'movi' fourcc
    idx = bytearray()
    off = 4
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_frames(data: bytes) -> list[bytes]:
    """Demux an AVI: the compressed payload of every video chunk
    ('##dc'/'##db') inside the 'movi' list, in stream order. Raises
    ValueError for non-AVI or structurally broken files."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    out: list[bytes] = []

    def walk(pos: int, end: int, in_movi: bool):
        while pos + 8 <= end:
            fourcc = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body_end = pos + 8 + size
            if body_end > end:
                raise ValueError("chunk overruns container")
            if fourcc == b"LIST":
                ltype = data[pos + 8:pos + 12]
                walk(pos + 12, body_end, in_movi or ltype == b"movi")
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                out.append(data[pos + 8:body_end])
            pos = body_end + (size & 1)

    # clamp to the actual buffer: a declared RIFF size larger than
    # the payload must surface as a clean ValueError, not a raw
    # struct error from reading past the end
    walk(12, min(8 + struct.unpack_from("<I", data, 4)[0], len(data)),
         False)
    return out


# --------------------------------------------- MS-RLE8 (inter-frame)

def decode_rle8(data: bytes, width: int, height: int,
                prev: np.ndarray | None = None) -> np.ndarray:
    """Decode one BI_RLE8 frame onto the previous frame's pixels.

    The Microsoft RLE8 bitmap codec (biCompression=1; the 'MRLE'
    AVI handler) is genuinely INTER-frame inside AVI: every pixel
    the escapes skip — end-of-line (00 00), the delta cursor move
    (00 02 dx dy), and an early end-of-bitmap (00 01) — shows the
    PREVIOUS frame through, so delta frames encode only what
    changed. Rows are bottom-up 8-bit palette indices; absolute mode
    (00 n, n>=3) carries literal pixels word-padded.

    ``prev`` is the composited previous frame's (h, w) index array
    (None → zeros keyframe canvas). Returns the new (h, w) array;
    raises ValueError on cursor overruns or truncated streams.
    """
    cur = (prev.copy() if prev is not None
           else np.zeros((height, width), dtype=np.uint8))
    if cur.shape != (height, width):
        raise ValueError("previous-frame shape mismatch")
    x, y = 0, 0                       # y counts rows from the BOTTOM
    i = 0
    while True:
        if i + 2 > len(data):
            raise ValueError("truncated RLE8 stream (no EOB)")
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:                     # encoded run
            if y >= height or x + c > width:
                raise ValueError("RLE8 run overruns the bitmap")
            cur[height - 1 - y, x:x + c] = v
            x += c
        elif v == 0:                  # end of line
            x, y = 0, y + 1
        elif v == 1:                  # end of bitmap
            return cur
        elif v == 2:                  # delta cursor move
            if i + 2 > len(data):
                raise ValueError("truncated RLE8 delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > width or y > height:
                raise ValueError("RLE8 delta overruns the bitmap")
        else:                         # absolute mode: v literal pixels
            n = v
            if i + n > len(data):
                raise ValueError("truncated RLE8 absolute run")
            if y >= height or x + n > width:
                raise ValueError("RLE8 absolute run overruns")
            cur[height - 1 - y, x:x + n] = np.frombuffer(
                data, np.uint8, n, i)
            x += n
            i += n + (n & 1)          # word alignment


def avi_rle8_bytes(frames_rle: list[bytes], width: int, height: int,
                   palette: np.ndarray, fps: int = 25) -> bytes:
    """Fixture builder: AVI RIFF around raw RLE8 frame payloads —
    'MRLE' stream handler, BITMAPINFOHEADER biCompression=1, 8 bpp,
    256-entry BGRX palette in strf."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    n = len(frames_rle)
    max_bytes = max((len(f) for f in frames_rle), default=0)
    avih = struct.pack(
        "<IIIIIIIIIIIIII", 1_000_000 // max(fps, 1),
        max_bytes * fps, 0, 0x10, n, 0, 1, max_bytes,
        width, height, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MRLE", 0, 0, 0, 0,
        1, fps, 0, n, max_bytes, 0xFFFFFFFF, 0, 0, 0, width, height)
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.shape != (256, 3):
        raise ValueError("palette must be (256, 3)")
    quads = np.zeros((256, 4), dtype=np.uint8)
    quads[:, 0] = pal[:, 2]           # B
    quads[:, 1] = pal[:, 1]           # G
    quads[:, 2] = pal[:, 0]           # R
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8,
                       1, width * height, 0, 0, 256, 0) \
        + quads.tobytes()
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f)
                                 for f in frames_rle))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# ------------------------------------------- MS Video 1 (inter-frame)

_MSVC_FOURCCS = (struct.unpack("<I", b"CRAM")[0],
                 struct.unpack("<I", b"MSVC")[0],
                 struct.unpack("<I", b"WHAM")[0])


def decode_msvc(data: bytes, width: int, height: int, bpp: int,
                prev: np.ndarray | None = None) -> np.ndarray:
    """Decode one MS Video 1 ('CRAM'/'MSVC') frame onto the
    previous frame's pixels.

    The codec tiles the frame into 4×4 blocks ordered left→right
    starting from the BOTTOM block row (BMP heritage). Each block
    starts with a little-endian code word (b_lo, b_hi):

      * ``(b_hi & 0xFC) == 0x84`` — skip code: this block and the
        next ``(word − 0x8400) − 1`` blocks keep the previous
        frame's pixels (the genuinely inter-frame path);
      * ``b_hi < 0x80`` — the word is a 15-bit pixel mask (bit 0 =
        bottom-left pixel, rows bottom-up, columns left→right;
        bit 15 is unreachable by construction — a real quirk of the
        format). Two colors follow (bytes at 8 bpp, RGB555 words at
        16 bpp). If color 0 carries the high flag bit
        (0x80 / 0x8000) the block is 8-color: three more color
        PAIRS follow and each 2×2 quadrant uses its own pair
        (order: bottom-left, bottom-right, top-left, top-right);
        otherwise 2-color for the whole block. Mask bit 1 selects
        color 0 of the pair, bit 0 selects color 1;
      * otherwise — 1-color block: at 8 bpp the color is ``b_lo``;
        at 16 bpp the code word itself is the color (high bit set).

    At 8 bpp the canvas holds palette indices (h, w) uint8; at
    16 bpp raw RGB555 words (h, w) uint16 (bit 15 of stored colors
    rides along as in the on-disk format; :func:`rgb555_expand`
    masks it). Returns the composited canvas; raises ValueError on
    truncation, bad dimensions, or stream overrun.

    Semantics follow the public format description (MSDN
    "Video 1 Compression"; Multimedia Wiki "Microsoft Video 1") —
    implementation from scratch."""
    if width % 4 or height % 4:
        raise ValueError("MS Video 1 needs multiple-of-4 dimensions")
    if bpp not in (8, 16):
        raise ValueError("MS Video 1 is 8 or 16 bpp")
    dt = np.uint8 if bpp == 8 else np.uint16
    cur = (prev.copy() if prev is not None
           else np.zeros((height, width), dtype=dt))
    if cur.shape != (height, width) or cur.dtype != dt:
        raise ValueError("previous-frame shape mismatch")
    bw, bh = width // 4, height // 4
    n_blocks = bw * bh
    # bit i of a mask → (row-from-bottom, col) inside the block
    yy, xx = np.divmod(np.arange(16), 4)
    i = 0
    skip = 0
    for b in range(n_blocks):
        if skip:
            skip -= 1
            continue
        if i + 2 > len(data):
            raise ValueError("truncated MS Video 1 stream")
        lo, hi = data[i], data[i + 1]
        i += 2
        if (hi & 0xFC) == 0x84:
            skip = ((hi - 0x84) << 8 | lo) - 1
            if skip < 0 or b + skip >= n_blocks:
                raise ValueError("MS Video 1 skip overruns")
            continue
        by, bx = divmod(b, bw)
        rows = height - 1 - (4 * by + yy)      # bottom-up placement
        cols = 4 * bx + xx
        if hi < 0x80:                          # 2- or 8-color
            mask = hi << 8 | lo
            if bpp == 8:
                if i + 2 > len(data):
                    raise ValueError("truncated MS Video 1 colors")
                c0, c1 = data[i], data[i + 1]
                i += 2
                eight = bool(c0 & 0x80)
                colors = [c0, c1]
                if eight:
                    if i + 6 > len(data):
                        raise ValueError(
                            "truncated MS Video 1 8-color block")
                    colors += list(data[i:i + 6])
                    i += 6
            else:
                if i + 4 > len(data):
                    raise ValueError("truncated MS Video 1 colors")
                c0, c1 = struct.unpack_from("<HH", data, i)
                i += 4
                eight = bool(c0 & 0x8000)
                colors = [c0, c1]
                if eight:
                    if i + 12 > len(data):
                        raise ValueError(
                            "truncated MS Video 1 8-color block")
                    colors += list(
                        struct.unpack_from("<6H", data, i))
                    i += 12
            colors = np.asarray(colors, dtype=dt)
            bits = (mask >> np.arange(16)) & 1
            if eight:
                # quadrant pair: (row-from-bottom ≥ 2)*4 + (col ≥ 2)*2
                pair = ((yy & 2) << 1) + (xx & 2)
                idx = pair + (1 - bits)
            else:
                idx = 1 - bits
            cur[rows, cols] = colors[idx]
        else:                                  # 1-color
            cur[rows, cols] = lo if bpp == 8 else (hi << 8 | lo)
    return cur


def rgb555_expand(canvas: np.ndarray) -> np.ndarray:
    """(h, w) uint16 RGB555 → (h, w, 3) uint8 RGB via the exact
    5→8-bit replication expand c8 = (c5 << 3) | (c5 >> 2); bit 15
    (the 8-color flag riding on stored colors) is masked off."""
    v = canvas.astype(np.uint16) & 0x7FFF
    out = np.empty(canvas.shape + (3,), dtype=np.uint8)
    for ch, shift in enumerate((10, 5, 0)):
        c5 = (v >> shift) & 0x1F
        out[..., ch] = ((c5 << 3) | (c5 >> 2)).astype(np.uint8)
    return out


def avi_msvc_bytes(frames_cram: list[bytes], width: int, height: int,
                   bpp: int = 8, palette: np.ndarray | None = None,
                   fps: int = 25) -> bytes:
    """Fixture builder: AVI RIFF around raw MS Video 1 frame
    payloads — 'CRAM' stream handler and biCompression, 8 bpp
    (256-entry BGRX palette in strf) or 16 bpp RGB555."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    n = len(frames_cram)
    max_bytes = max((len(f) for f in frames_cram), default=0)
    avih = struct.pack(
        "<IIIIIIIIIIIIII", 1_000_000 // max(fps, 1),
        max_bytes * fps, 0, 0x10, n, 0, 1, max_bytes,
        width, height, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"CRAM", 0, 0, 0, 0,
        1, fps, 0, n, max_bytes, 0xFFFFFFFF, 0, 0, 0, width, height)
    pal_bytes = b""
    n_colors = 0
    if bpp == 8:
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.shape != (256, 3):
            raise ValueError("palette must be (256, 3)")
        quads = np.zeros((256, 4), dtype=np.uint8)
        quads[:, 0] = pal[:, 2]
        quads[:, 1] = pal[:, 1]
        quads[:, 2] = pal[:, 0]
        pal_bytes = quads.tobytes()
        n_colors = 256
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, bpp,
                       b"CRAM", width * height * bpp // 8, 0, 0,
                       n_colors, 0) + pal_bytes
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f)
                                 for f in frames_cram))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _avi_strf(data: bytes):
    """(biCompression, width, height, bpp, palette|None) from the
    first video strf chunk, or None when absent/unparseable."""
    pos = data.find(b"strf")
    if pos < 0 or pos + 8 > len(data):
        return None
    (size,) = struct.unpack_from("<I", data, pos + 4)
    body = data[pos + 8:pos + 8 + size]
    if len(body) < 40:
        return None
    _, w, h, _, bpp = struct.unpack_from("<IiiHH", body, 0)
    (comp,) = struct.unpack_from("<I", body, 16)
    pal = None
    if bpp == 8 and len(body) >= 40 + 256 * 4:
        quads = np.frombuffer(body, np.uint8, 256 * 4, 40)
        quads = quads.reshape(256, 4)
        pal = np.stack([quads[:, 2], quads[:, 1], quads[:, 0]],
                       axis=1)       # BGRX → RGB
    return comp, w, abs(h), bpp, pal


# -------------------------------------------------------------- operator

def _demux(payload: bytes):
    """(kind, frames): 'jpeg' + compressed frames for MJPEG AVI,
    'raw' + composited RGB arrays for RLE8 AVI, animated GIF/APNG
    and animated WebP."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from tika_spark.analysis.webp import webp_anim_frames
        return "raw", webp_anim_frames(payload)  # raises if still
    if payload[:4] == b"RIFF":
        strf = _avi_strf(payload)
        frames = avi_frames(payload)
        if strf is not None and strf[0] == 1:      # BI_RLE8
            comp, w, h, bpp, pal = strf
            if pal is None:
                raise ValueError("RLE8 stream without a palette")
            out = []
            prev = None
            for f in frames:
                prev = decode_rle8(f, w, h, prev)
                out.append(pal[prev])              # composited RGB
            return "raw", out
        if strf is not None and strf[0] in _MSVC_FOURCCS:
            comp, w, h, bpp, pal = strf
            if bpp == 8 and pal is None:
                raise ValueError("8-bpp CRAM stream without a palette")
            out = []
            prev = None
            for f in frames:
                prev = decode_msvc(f, w, h, bpp, prev)
                out.append(pal[prev] if bpp == 8
                           else rgb555_expand(prev))
            return "raw", out
        return "jpeg", frames
    if payload[:4] == b"\x00\x00\x01\xb3":      # MPEG-1 video ES
        from tika_spark.analysis.mpegvideo import decode_mpeg1
        return "raw", decode_mpeg1(payload)[0]
    if payload[:4] == b"\x00\x00\x01\xba":      # MPEG program stream
        from tika_spark.analysis.mpegvideo import (decode_mpeg1,
                                                   ps_video_es)
        return "raw", decode_mpeg1(ps_video_es(payload))[0]
    if payload[:1] == b"\x47" and len(payload) >= 188 \
            and payload[188:189] == b"\x47":    # MPEG transport stream
        from tika_spark.analysis.mpegts import ts_video_frames
        return "raw", ts_video_frames(payload)
    if payload[:3] == b"FLV":                    # Flash video (AVC)
        from tika_spark.analysis.flvdemux import decode_flv_video
        return "raw", decode_flv_video(payload)
    if payload[:4] == b"\x1aE\xdf\xa3":          # EBML: Matroska/WebM
        from tika_spark.analysis.ebml import mkv_video_frames
        return "raw", mkv_video_frames(payload)  # VP8 or H.264
    if payload[4:8] == b"ftyp":                  # ISO-BMFF: MP4/AVC
        from tika_spark.analysis.isobmff import mp4_h264_frames
        return "raw", mp4_h264_frames(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from tika_spark.analysis.pixels import gif_frames
        return "raw", gif_frames(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from tika_spark.analysis.pixels import apng_frames
        return "raw", apng_frames(payload)   # raises if not animated
    raise ValueError("not a supported video container")


def frame_rows(payload: bytes, every: int, values, blank: tuple
               ) -> list[tuple]:
    """The per-frame walk of the frame operators: demux ``payload``,
    then one ``(frame_idx, n_frames, *values(rgb), 'ok')`` row per
    sampled frame (indices 0, every, 2*every, ...), or
    ``(frame_idx, n_frames, *blank, 'error')`` when that frame does
    not decode.  A container that does not demux raises."""
    from tika_spark.analysis.jpegcodec import decode_jpeg
    kind, frames = _demux(payload)
    n = len(frames)
    rows = []
    for idx in range(0, n, max(every, 1)):
        try:
            arr = decode_jpeg(frames[idx]) if kind == "jpeg" \
                else frames[idx]
            rows.append((idx, n, *values(arr), "ok"))
        except Exception:
            rows.append((idx, n, *blank, "error"))
    return rows


def sample_frame_stats(df: DataFrame, every: int = 2,
                       id_col: str = "id",
                       payload_col: str = "payload") -> DataFrame:
    """(id, payload) -> one row per sampled frame (indices 0, every,
    2*every, ...) with decoded dimensions and exact per-channel
    micro-unit means, over every container :func:`_demux` reads.
    Corrupt containers or frames yield status rows, never task
    failures."""
    from tika_spark.analysis.pixels import channel_means_micro
    from tika_spark.analysis.spread import decode_stage

    def stats(arr):
        return arr.shape[1], arr.shape[0], channel_means_micro(arr)

    return decode_stage(
        df, VIDEO_FRAME_SCHEMA,
        lambda payload: frame_rows(payload, every, stats, (0, 0, [])),
        (-1, 0, 0, 0, [], "error"), id_col, payload_col)


SLICE_CENSUS_SCHEMA = ("id long, slice_idx int, slice_type string, "
                       "frame_num int, poc_lsb int, idr boolean, "
                       "entropy string, nal_bytes int")


def mp4_slice_census(df: DataFrame, id_col: str = "id",
                     payload_col: str = "payload") -> DataFrame:
    """(id, payload) -> one row per slice NAL of the first avc1 track
    with slice type, frame_num, POC lsb, IDR flag, entropy mode and
    NAL size. Entropy-mode independent (slice headers are Exp-Golomb
    even in CABAC Main/High-profile streams -- the web MP4 majority
    the CAVLC pixel decoder must refuse), so keyframe cadence / GOP
    structure / IBP mix census works on every H.264 MP4. Unparsable
    payloads yield zero rows (H1 fault isolation); no shuffle."""
    from tika_spark.analysis.isobmff import mp4_h264_slice_census
    from tika_spark.analysis.spread import decode_stage

    def census(payload: bytes):
        return [(k, r["slice_type"], r["frame_num"], r["poc_lsb"],
                 bool(r["idr"]), r["entropy"], r["nal_bytes"])
                for k, r in enumerate(mp4_h264_slice_census(payload))]

    return decode_stage(df, SLICE_CENSUS_SCHEMA, census, None, id_col,
                        payload_col)


def video_rle_fixture(doc_id: int) -> bytes:
    """Deterministic inter-frame RLE8 AVI per document row, built to
    a closed form the oracle replays in SQL. Grayscale identity
    palette; w = 16 + doc_id%8, h = 8; v0/v1/v2 derived from doc_id:

      frame 0  keyframe: every row an encoded run of v0 → mean v0
      frame 1  delta: bottom 4 rows re-run as v1, EOB skips the top
               4 (previous frame shows through) → mean (v0+v1)/2
      frame 2  delta escape (dx=2, dy=1) then a 4-pixel absolute run
               of v2 over v1 pixels → mean shifts by 4(v2-v1)/(8w)

    Exercises every RLE8 construct: runs, EOL, EOB-skip, cursor
    delta, absolute mode (word-padded even n)."""
    w, h = 16 + doc_id % 8, 8
    v0 = doc_id % 256
    v1 = (doc_id * 7 + 31) % 256
    v2 = (doc_id * 13 + 5) % 256
    key = b"".join(bytes((w, v0, 0, 0)) for _ in range(h)) \
        + bytes((0, 1))
    half = b"".join(bytes((w, v1, 0, 0)) for _ in range(4)) \
        + bytes((0, 1))
    delta = bytes((0, 2, 2, 1,        # move to x=2, row 1 from bottom
                   0, 4, v2, v2, v2, v2,   # absolute, n even: no pad
                   0, 1))
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3,
                    axis=1)
    return avi_rle8_bytes([key, half, delta], w, h, pal)


def video_msvc_fixture(doc_id: int) -> bytes:
    """Deterministic inter-frame MS Video 1 AVI per document row,
    built to a closed form the oracle replays in SQL. Even ids:
    8 bpp over a grayscale identity palette; odd ids: 16 bpp RGB555
    gray words (5-bit v expands to E(v) = 8v + v//4). With
    w = 16 + 4·(doc_id%3), h = 8, nb = w/2 blocks, S = w/4:

      frame 0  every block 1-color v0 → mean exactly v0 (or E(a0))
      frame 1  skip code over the first S blocks (previous frame
               shows through), remaining nb−S blocks 2-color with
               mask 0x5555 (8 px each color)
      frame 2  block 0 becomes an 8-color block (mask 0x5555 → two
               pixels of each of q0..q7), then one skip code covers
               the other nb−1 blocks — so its mean PROVES the
               frame-1 composition persisted

    Exercises every MS Video 1 construct: 1-color, 2-color,
    8-color quadrant pairs, and multi-block skip codes at both
    pixel depths."""
    w, h = 16 + 4 * (doc_id % 3), 8
    nb, s = w // 2, w // 4
    if doc_id % 2 == 0:                    # 8 bpp, palettized
        v0 = doc_id % 256
        v1 = (doc_id * 7 + 31) % 128       # color0 of a pair: bit7
        v3 = 128 + 4 * (doc_id % 28)       # clear; q0 needs bit7 SET
        v2 = (doc_id * 13 + 5) % 256
        f0 = bytes((v0, 0x88)) * nb
        f1 = bytes((s & 0xFF, 0x84)) \
            + bytes((0x55, 0x55, v1, v2)) * (nb - s)
        f2 = bytes((0x55, 0x55)) + bytes(range(v3, v3 + 8)) \
            + bytes(((nb - 1) & 0xFF, 0x84))
        pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3,
                        axis=1)
        return avi_msvc_bytes([f0, f1, f2], w, h, bpp=8, palette=pal)
    a0 = 2 + doc_id % 30                   # 1-color word must dodge
    a1 = (doc_id * 3 + 7) % 32             # the 0x84xx skip range
    a2 = (doc_id * 11 + 5) % 32            # (only v=1 collides)
    a3 = 4 * (doc_id % 7)                  # q0..q7 = a3..a3+7 ≤ 31

    def gray(v: int, flag: int = 0) -> bytes:
        return struct.pack("<H", flag | (v << 10) | (v << 5) | v)

    f0 = gray(a0, 0x8000) * nb
    f1 = bytes((s & 0xFF, 0x84)) \
        + (bytes((0x55, 0x55)) + gray(a1) + gray(a2)) * (nb - s)
    f2 = bytes((0x55, 0x55)) + gray(a3, 0x8000) \
        + b"".join(gray(a3 + k) for k in range(1, 8)) \
        + bytes(((nb - 1) & 0xFF, 0x84))
    return avi_msvc_bytes([f0, f1, f2], w, h, bpp=16)


def video_fixture(doc_id: int) -> bytes:
    """Deterministic video per document row: 3 + doc_id%4 solid gray
    frames (v = (doc_id*11 + 17*frame) % 256) at (16 + doc_id%8) × 8.
    Even ids: MJPEG AVI at quality 50 — frame means follow the JPEG
    DC-quantization closed form. Odd ids: animated GIF over a
    grayscale identity palette — frame means are exactly v
    (lossless). Both SQL-replayable by the oracle."""
    n = 3 + doc_id % 4
    w, h = 16 + doc_id % 8, 8
    vals = [(doc_id * 11 + 17 * f) % 256 for f in range(n)]
    if doc_id % 2 == 0:
        from tika_spark.analysis.jpegcodec import jpeg_bytes
        frames = [jpeg_bytes(np.full((h, w, 1), v, dtype=np.uint8),
                             quality=50) for v in vals]
        return avi_mjpeg_bytes(frames, w, h)
    from tika_spark.analysis.pixels import gif_anim_bytes
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    return gif_anim_bytes(
        [np.full((h, w), v, dtype=np.uint8) for v in vals], pal)
