"""Real pixel decode for the multimodal tier, pure numpy: PNG (and
APNG frames), GIF (and animation compositing), BMP, TIFF, PNM and ICO.

- **PNG** (RFC 2083 -- DEFLATE + per-row prediction filters): 8-bit
  grayscale / gray+alpha / RGB / RGBA / palette, all five row
  filters, non-interlaced.
- **GIF** (87a/89a): from-scratch GIF-variant LZW (LSB-first
  packing, CLEAR/EOI, 12-bit cap), global/local color tables,
  interlaced row reordering.

Baseline/progressive JPEG decodes in
:mod:`tika_spark.analysis.jpegcodec` and WebP in
:mod:`tika_spark.analysis.webp`; :func:`image_decoders` is the one
media type -> decoder table over all of them.

On top of the decoders sit the training-pipeline image ops:
per-channel statistics in exact micro-units (integer pixel sums are
order-independent, so the distributed outputs are hash-checkable) and
deterministic block-average / nearest-neighbor resize.
:func:`image_pixel_stats` runs on the shared media decode stage
(:func:`tika_spark.analysis.spread.decode_stage`): the binary column
enters Python once per Arrow batch, never returns, and corrupt
payloads become status rows.

Scale: decode is per-row CPU work with no shuffle -- the operator is
embarrassingly parallel and the output is a few numbers per image, so
a 100 TB image corpus is bounded by scan + decode CPU, exactly like
the text-extraction map.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# decompression-bomb guard shared by every pixel decoder: per-axis
# bounds alone admit a 65k x 65k header whose canvas allocation OOMs
# the executor before one compressed byte is inflated (the image
# analog of the HTML output-ratio guard, SecureContentHandler.java)
MAX_PIXELS = 1 << 26    # 67 MP ≈ 200 MB as RGB uint8


def check_dims(w: int, h: int) -> None:
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
        raise ValueError("bad dimensions")
    if w * h > MAX_PIXELS:
        raise ValueError(f"image too large ({w}x{h} > {MAX_PIXELS}px)")


PIXEL_STATS_SCHEMA = ("id long, width int, height int, n_channels int, "
                      "mean_micro array<long>, status string")


def _png_unfilter(raw: bytes, w: int, h: int, channels: int
                  ) -> np.ndarray:
    """Reconstruct (h, w, channels) from a decompressed PNG scanline
    stream (filter byte + stride bytes per row) — shared by whole-
    image IDAT decoding and per-frame APNG fdAT decoding."""
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        raise ValueError("IDAT size mismatch")
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride,
                            offset=y * (stride + 1) + 1).astype(np.int64)
        if f == 0:
            rec = row
        elif f == 2:          # Up
            rec = (row + prev) % 256
        elif f == 1:          # Sub: per-lane prefix sum
            rec = row.copy()
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(rec[lane::bpp]) % 256
        elif f == 3:          # Average
            rec = row.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + (left + prev[x]) // 2) % 256
        elif f == 4:          # Paeth
            rec = row.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                rec[x] = (rec[x] + pr) % 256
        else:
            raise ValueError(f"bad filter {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, channels)


def decode_png(data: bytes) -> np.ndarray:
    """PNG → uint8 array of shape (h, w, channels).

    Supports bit depth 8, color types 0/2/3/4/6, non-interlaced
    (palette expands to RGB). All five row filters implemented:
    None/Up are vectorized, Sub is a per-lane cumulative sum mod 256,
    Average/Paeth run the spec's sequential recurrences. Raises
    ValueError for anything else — callers surface a status row.
    """
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat: list[bytes] = []
    n = len(data)
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("missing IHDR")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if depth != 8 or comp or filt or interlace or color not in _CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={depth} color={color} "
            f"interlace={interlace})")
    check_dims(w, h)
    channels = _CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    arr = _png_unfilter(raw, w, h, channels)
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette image without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(arr.max()) >= len(pal):
            raise ValueError("palette index out of range")
        arr = pal[arr[:, :, 0]]
    return arr


def apng_frames(data: bytes, max_frames: int = 10_000
                ) -> list[np.ndarray]:
    """Composited RGB frames of an animated PNG (APNG).

    Parses the acTL/fcTL/fdAT animation chunks: each frame is a
    sub-rectangle with its own zlib scanline stream (IDAT for the
    first frame when its fcTL precedes IDAT; fdAT with a 4-byte
    sequence prefix afterwards), composed per the spec's disposal
    (0 none, 1 background, 2 previous) and blend (0 source, 1 over)
    operators — the PNG sibling of the GIF89a/RLE8 inter-frame
    compositors. Alpha-over blending is deterministic integer
    arithmetic: out = (fg·a + bg·(255-a) + 127) // 255.

    Raises ValueError for a non-animated PNG (no acTL) — a still
    image is not a video payload.
    """
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    actl = None
    # ordered animation stream: ('fctl', fields) / ('data', bytes)
    stream: list[tuple] = []
    first_fctl_seen = False
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"acTL":
            actl = struct.unpack_from(">II", body, 0)
        elif ctype == b"fcTL":
            f = struct.unpack_from(">IIIIIHHBB", body, 0)
            stream.append(("fctl", f))
            first_fctl_seen = True
        elif ctype == b"IDAT":
            if first_fctl_seen:
                stream.append(("data", body))
            # else: default image outside the animation — skipped
        elif ctype == b"fdAT":
            stream.append(("data", body[4:]))   # drop sequence no.
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or actl is None:
        raise ValueError("not an animated PNG (no acTL)")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if depth != 8 or comp or filt or interlace or color not in _CHANNELS:
        raise ValueError("unsupported APNG header")
    check_dims(w, h)
    channels = _CHANNELS[color]
    pal = None
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette APNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)

    def to_rgba(sub: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(rgb int64, alpha int64) of a decoded sub-image."""
        if color == 3:
            if int(sub.max()) >= len(pal):
                raise ValueError("palette index out of range")
            rgb = pal[sub[:, :, 0]].astype(np.int64)
            a = np.full(sub.shape[:2], 255, dtype=np.int64)
        elif color == 0:
            rgb = np.repeat(sub, 3, axis=2).astype(np.int64)
            a = np.full(sub.shape[:2], 255, dtype=np.int64)
        elif color == 4:
            rgb = np.repeat(sub[:, :, :1], 3, axis=2).astype(np.int64)
            a = sub[:, :, 1].astype(np.int64)
        elif color == 2:
            rgb = sub.astype(np.int64)
            a = np.full(sub.shape[:2], 255, dtype=np.int64)
        else:                                   # 6: RGBA
            rgb = sub[:, :, :3].astype(np.int64)
            a = sub[:, :, 3].astype(np.int64)
        return rgb, a

    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    out: list[np.ndarray] = []
    fctl = None
    bufs: list[bytes] = []

    def flush():
        nonlocal canvas
        if fctl is None:
            return
        (_seq, fw, fh, fx, fy, _dn, _dd, dispose, blend) = fctl
        if fx + fw > w or fy + fh > h:
            raise ValueError("APNG frame outside the canvas")
        raw = zlib.decompress(b"".join(bufs))
        sub = _png_unfilter(raw, fw, fh, channels)
        rgb, a = to_rgba(sub)
        before = canvas.copy()
        region = canvas[fy:fy + fh, fx:fx + fw].astype(np.int64)
        if blend == 1:                          # OVER
            al = a[:, :, None]
            region = (rgb * al + region * (255 - al) + 127) // 255
        else:                                   # SOURCE
            region = rgb
        canvas[fy:fy + fh, fx:fx + fw] = np.clip(
            region, 0, 255).astype(np.uint8)
        out.append(canvas.copy())
        if dispose == 1:                        # background → clear
            canvas[fy:fy + fh, fx:fx + fw] = 0
        elif dispose == 2:                      # previous → revert
            canvas = before
        if len(out) > max_frames:
            raise ValueError("too many APNG frames")

    for kind, item in stream:
        if kind == "fctl":
            flush()
            fctl, bufs = item, []
        else:
            bufs.append(item)
    flush()
    if not out:
        raise ValueError("animated PNG with no frames")
    return out


def apng_bytes(frames: list[tuple], width: int, height: int,
               color: int = 0) -> bytes:
    """Fixture builder: APNG from [(array, x, y, dispose, blend)]
    sub-images (8-bit, color type 0 grayscale or 2 RGB). The first
    frame's pixels ride in IDAT (its fcTL precedes IDAT), the rest
    in sequence-numbered fdAT chunks — the spec layout real encoders
    emit."""
    channels = {0: 1, 2: 3}[color]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    def scanlines(arr: np.ndarray) -> bytes:
        fh, fw = arr.shape[:2]
        rows = b"".join(b"\x00" + arr[y].tobytes() for y in range(fh))
        return zlib.compress(rows)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    out = bytearray(_SIG)
    out += chunk(b"IHDR", ihdr)
    out += chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    for i, (arr, x, y, dispose, blend) in enumerate(frames):
        arr = np.asarray(arr, dtype=np.uint8)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        if arr.shape[2] != channels:
            raise ValueError("frame channels do not match color type")
        fh, fw = arr.shape[:2]
        fctl = struct.pack(">IIIIIHHBB", seq, fw, fh, x, y,
                           1, 10, dispose, blend)
        out += chunk(b"fcTL", fctl)
        seq += 1
        payload = scanlines(arr)
        if i == 0:
            out += chunk(b"IDAT", payload)
        else:
            out += chunk(b"fdAT", struct.pack(">I", seq) + payload)
            seq += 1
    out += chunk(b"IEND", b"")
    return bytes(out)


def _gif_lzw_decode(min_code: int, data: bytes,
                    limit: int = MAX_PIXELS) -> bytes:
    """GIF-variant LZW (LSB-first packing, CLEAR/EOI codes, 12-bit
    cap, width grows when the next code would overflow)."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                # truncate instead of rebuilding: a stream of
                # per-symbol CLEARs (our own bloated fixture encoder,
                # but also legal in the wild) must stay O(1) per
                # reset, not O(table) (measured 40x on GIF frames)
                del table[clear + 2:]
                width = min_code + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if len(out) >= limit:
                return bytes(out[:limit])
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):     # KwKwK
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise ValueError("LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return bytes(out)


_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # interlace start/step


def decode_gif(data: bytes) -> np.ndarray:
    """GIF → uint8 RGB array of shape (h, w, 3) — first image block,
    global or local color table, interlacing supported. From-scratch
    LZW (the GIF variant differs from the PDF LZWDecode filter this
    repo already ships: LSB-first packing and explicit CLEAR/EOI)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags = struct.unpack_from("<HHB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                            offset=pos).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:                # extension: skip sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:              # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB",
                                                        data, pos + 1)
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                                    offset=pos).reshape(-1, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("no color table")
            min_code = data[pos]
            pos += 1
            chunks = []
            while pos < len(data) and data[pos]:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            idx = np.frombuffer(
                _gif_lzw_decode(min_code, b"".join(chunks), iw * ih),
                dtype=np.uint8)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF image data")
            idx = idx[:iw * ih].reshape(ih, iw)
            if iflags & 0x40:            # interlaced: reorder rows
                deint = np.zeros_like(idx)
                src = 0
                for start, step in _GIF_PASSES:
                    for y in range(start, ih, step):
                        deint[y] = idx[src]
                        src += 1
                idx = deint
            if int(idx.max()) >= len(pal):
                raise ValueError("palette index out of range")
            return pal[idx]
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("no image block")


def _gif_image_block(data: bytes, pos: int, gct):
    """Decode one image descriptor at ``pos`` → (ix, iy, rgb_region,
    idx_region, new_pos)."""
    ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
    pos += 10
    pal = gct
    if iflags & 0x80:
        n = 2 << (iflags & 7)
        pal = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                            offset=pos).reshape(-1, 3)
        pos += 3 * n
    if pal is None:
        raise ValueError("no color table")
    min_code = data[pos]
    pos += 1
    chunks = []
    while pos < len(data) and data[pos]:
        ln = data[pos]
        chunks.append(data[pos + 1:pos + 1 + ln])
        pos += 1 + ln
    pos += 1                             # data terminator
    idx = np.frombuffer(_gif_lzw_decode(min_code, b"".join(chunks), iw * ih),
                        dtype=np.uint8)
    if len(idx) < iw * ih:
        raise ValueError("truncated GIF image data")
    idx = idx[:iw * ih].reshape(ih, iw)
    if iflags & 0x40:
        deint = np.zeros_like(idx)
        src = 0
        for start, step in _GIF_PASSES:
            for y in range(start, ih, step):
                deint[y] = idx[src]
                src += 1
        idx = deint
    if int(idx.max()) >= len(pal):
        raise ValueError("palette index out of range")
    return ix, iy, pal[idx], idx, pos


def gif_frames(data: bytes, max_frames: int = 10_000
               ) -> list[np.ndarray]:
    """Animated GIF → list of COMPOSITED uint8 RGB canvases, one per
    frame, honoring the GIF89a graphics-control extension: disposal
    none/leave (0/1), restore-background (2), restore-previous (3)
    and the transparent index (transparent pixels keep the canvas).
    A single-image GIF yields one frame identical to decode_gif."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, bg = struct.unpack_from("<HHBB", data, 6)
    check_dims(w, h)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                            offset=pos).reshape(-1, 3)
        pos += 3 * n
    bg_rgb = gct[bg] if gct is not None and bg < len(gct) \
        else np.zeros(3, dtype=np.uint8)
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    frames: list[np.ndarray] = []
    disposal = 0
    transparent = -1
    while pos < len(data):
        block = data[pos]
        if block == 0x21:
            label = data[pos + 1] if pos + 1 < len(data) else 0
            p = pos + 2
            if label == 0xF9 and p < len(data) and data[p] >= 4:
                gflags = data[p + 1]
                disposal = (gflags >> 2) & 7
                transparent = data[p + 4] if gflags & 1 else -1
            while p < len(data) and data[p]:
                p += 1 + data[p]
            pos = p + 1
        elif block == 0x2C:
            ix, iy, rgb, idx, pos = _gif_image_block(data, pos, gct)
            ih, iw = idx.shape
            y1, x1 = min(iy + ih, h), min(ix + iw, w)
            if y1 <= iy or x1 <= ix:
                continue
            region = canvas[iy:y1, ix:x1]
            snapshot = canvas.copy() if disposal == 3 else None
            sub_rgb = rgb[:y1 - iy, :x1 - ix]
            sub_idx = idx[:y1 - iy, :x1 - ix]
            if transparent >= 0:
                opaque = sub_idx != transparent
                region[opaque] = sub_rgb[opaque]
            else:
                region[:] = sub_rgb
            frames.append(canvas.copy())
            if len(frames) >= max_frames:
                break
            if disposal == 2:
                canvas[iy:y1, ix:x1] = bg_rgb
            elif disposal == 3:
                canvas = snapshot
            disposal = 0
            transparent = -1
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("no image block")
    return frames


def gif_bytes(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Indexed (h, w) array + (n, 3) palette → GIF89a bytes.
    Encoder emits CLEAR before every pixel code (table never grows —
    bloated but spec-legal, like the PDF fixture LZW writer), so the
    output is trivially byte-stable."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    bits = max(2, int(len(pal) - 1).bit_length())
    n = 1 << bits
    pal_full = np.zeros((n, 3), dtype=np.uint8)
    pal_full[:len(pal)] = pal
    clear = 1 << bits
    end = clear + 1
    width = bits + 1
    acc = nbits = 0
    body = bytearray()

    def put(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            body.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for v in idx.reshape(-1):
        put(clear)
        put(int(v))
    put(end)
    if nbits:
        body.append(acc & 0xFF)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHB", w, h, 0x80 | (bits - 1)) + b"\x00\x00"
    out += pal_full.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(bits)
    for i in range(0, len(body), 255):
        chunk = body[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def gif_anim_bytes(frames: list[np.ndarray], palette: np.ndarray,
                   disposal: int = 1, transparent: int | None = None
                   ) -> bytes:
    """Animated GIF89a from full-frame index arrays (same bloated
    CLEAR-per-pixel LZW as gif_bytes): one graphics-control extension
    + image descriptor per frame."""
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = np.asarray(frames[0]).shape
    bits = max(2, int(len(pal) - 1).bit_length())
    n = 1 << bits
    pal_full = np.zeros((n, 3), dtype=np.uint8)
    pal_full[:len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHB", w, h, 0x80 | (bits - 1)) + b"\x00\x00"
    out += pal_full.tobytes()
    clear = 1 << bits
    end = clear + 1
    width = bits + 1
    for fr in frames:
        idx = np.asarray(fr, dtype=np.uint8)
        gflags = (disposal & 7) << 2
        tidx = 0
        if transparent is not None:
            gflags |= 1
            tidx = transparent
        out += b"\x21\xf9\x04" + bytes((gflags, 0, 0, tidx)) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(bits)
        acc = nbits = 0
        body = bytearray()

        def put(code: int):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                body.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for v in idx.reshape(-1):
            put(clear)
            put(int(v))
        put(end)
        if nbits:
            body.append(acc & 0xFF)
        for i in range(0, len(body), 255):
            chunk = body[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed BMP → uint8 RGB array of shape (h, w, 3).

    BITMAPINFOHEADER, biCompression 0, bit depths 8 (palette), 24,
    32 (alpha dropped); rows bottom-up (top-down for negative
    height), stride padded to 4 bytes — the classic DIB layout."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bits, comp = struct.unpack_from("<HHI", data, 26)
    if hdr_size < 40 or comp != 0 or bits not in (8, 24, 32):
        raise ValueError(f"unsupported BMP (bits={bits} comp={comp})")
    top_down = h < 0
    h = abs(h)
    check_dims(w, h)
    stride = (w * bits // 8 + 3) & ~3
    if off + stride * h > len(data):
        raise ValueError("truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                         offset=off).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bits == 8:
        n_pal = struct.unpack_from("<I", data, 46)[0] or 256
        pal = np.frombuffer(data, dtype=np.uint8, count=4 * n_pal,
                            offset=14 + hdr_size).reshape(-1, 4)
        idx = rows[:, :w]
        if int(idx.max()) >= n_pal:
            raise ValueError("palette index out of range")
        return pal[idx][:, :, [2, 1, 0]].copy()   # BGRA → RGB
    step = bits // 8
    px = rows[:, :w * step].reshape(h, w, step)
    return px[:, :, [2, 1, 0]].copy()             # BGR(A) → RGB


def _tiff_lzw_decode(data: bytes, limit: int) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing,
    ClearCode 256 / EOI 257, EARLY-CHANGE code widening (the width
    bumps one code before the table fills — the difference from GIF's
    LZW). ``limit`` caps output (strip byte size)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = nbits = 0
    prev: bytes | None = None
    for b in data:
        acc = (acc << 8) | b
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                reset()
                prev = None
                continue
            if code == 257:
                return bytes(out[:limit])
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("bad LZW code")
            out += entry
            if len(out) >= limit:
                return bytes(out[:limit])
            prev = entry
            # early change: widen when the NEXT append would need it
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out[:limit])


def _packbits_decode(data: bytes, limit: int) -> bytes:
    """TIFF PackBits (RLE): n in 0..127 → copy n+1 literals; n in
    129..255 → repeat next byte 257-n times; 128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < limit:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                break
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out[:limit])


def decode_tiff(data: bytes) -> np.ndarray:
    """Baseline TIFF → uint8 array (h, w, channels).

    Both byte orders; 8-bit gray/RGB and palette (16-bit ColorMap
    scaled to 8); strips (any RowsPerStrip); Compression 1 (none),
    5 (LZW, with Predictor 2 horizontal differencing), 8/32946
    (Adobe/legacy Deflate — zlib per strip) and 32773 (PackBits);
    chunky planar config only. Anything else raises ValueError —
    callers surface a status row."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF")
    bo = "<" if data[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(bo + "HI", data, 2)
    if magic != 42:
        raise ValueError("not a classic TIFF")
    if ifd_off + 2 > len(data):
        raise ValueError("truncated IFD")
    (n_tags,) = struct.unpack_from(bo + "H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    _SZ = {1: 1, 2: 1, 3: 2, 4: 4}
    for t in range(n_tags):
        p = ifd_off + 2 + 12 * t
        if p + 12 > len(data):
            raise ValueError("truncated IFD entry")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, p)
        if typ not in _SZ:
            continue
        total = _SZ[typ] * cnt
        vp = p + 8 if total <= 4 else struct.unpack_from(
            bo + "I", data, p + 8)[0]
        if vp + total > len(data):
            continue
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(bo + str(cnt) + fmt,
                                            data, vp))
    try:
        w = tags[256][0]
        h = tags[257][0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError as exc:
        raise ValueError(f"missing required tag {exc}") from exc
    bits = tags.get(258, [8])
    spp = tags.get(277, [1])[0]
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    rps = tags.get(278, [h])[0] or h
    planar = tags.get(284, [1])[0]
    predictor = tags.get(317, [1])[0]
    if any(b != 8 for b in bits) or planar != 1 or spp not in (1, 3):
        raise ValueError("unsupported TIFF layout")
    check_dims(w, h)
    row_bytes = w * spp
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        nrows = min(rps, h - si * rps)
        need = nrows * row_bytes
        strip = data[off:off + cnt]
        if len(strip) < cnt:
            raise ValueError("truncated strip")
        if comp == 1:
            if len(strip) < need:
                raise ValueError("short strip")
            raw += strip[:need]
        elif comp == 5:
            raw += _tiff_lzw_decode(strip, need)
        elif comp in (8, 32946):        # Adobe / legacy Deflate
            import zlib
            d = zlib.decompressobj()
            raw += d.decompress(strip, need)
        elif comp == 32773:
            raw += _packbits_decode(strip, need)
        else:
            raise ValueError(f"unsupported compression {comp}")
    if len(raw) < h * row_bytes:
        raise ValueError("missing pixel data")
    arr = np.frombuffer(bytes(raw), dtype=np.uint8,
                        count=h * row_bytes).reshape(h, w, spp)
    if predictor == 2:
        arr = np.cumsum(arr.astype(np.int64), axis=1).astype(
            np.uint8).reshape(h, w, spp)
    if photo == 0:                      # WhiteIsZero → invert
        arr = (255 - arr.astype(np.int16)).astype(np.uint8)
    if photo == 3:                      # palette
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise ValueError("missing ColorMap")
        pal = (np.array(cmap[:3 * 256], dtype=np.uint32)
               .reshape(3, 256).T >> 8).astype(np.uint8)
        arr = pal[arr[:, :, 0]]
    return np.ascontiguousarray(arr)


def tiff_bytes(arr: np.ndarray, compression: int = 1,
               byte_order: str = "<", predictor: int = 1,
               rows_per_strip: int | None = None) -> bytes:
    """Fixture writer: 8-bit gray/RGB TIFF with Compression 1/5/32773
    and optional Predictor 2 (LZW only), strip layout."""
    h, w, c = arr.shape
    bo = byte_order
    rps = rows_per_strip or h
    px = arr
    if predictor == 2:
        first = px[:, :1, :].astype(np.int16)
        diffs = np.diff(px.astype(np.int16), axis=1)
        px = np.concatenate([first, diffs], axis=1).astype(np.uint8)
    strips = []
    for y0 in range(0, h, rps):
        body = px[y0:y0 + rps].tobytes()
        if compression == 5:
            strips.append(_tiff_lzw_encode(body))
        elif compression == 32773:
            strips.append(_packbits_encode(body))
        else:
            strips.append(body)
    # layout: header(8) | strip data | IFD
    data_off = 8
    offs = []
    pos = data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    if pos & 1:
        pos += 1
    ifd_off = pos

    entries = []

    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    entry(256, 3, [w])
    entry(257, 3, [h])
    entry(258, 3, [8] * c)
    entry(259, 3, [compression])
    entry(262, 3, [2 if c == 3 else 1])
    entry(273, 4, offs)
    entry(277, 3, [c])
    entry(278, 3, [rps])
    entry(279, 4, [len(s) for s in strips])
    if predictor == 2:
        entry(284, 3, [1])
        entry(317, 3, [predictor])
    entries.sort()
    _SZ = {3: 2, 4: 4}
    # overflow values go after the IFD
    tail_off = ifd_off + 2 + 12 * len(entries) + 4
    tail = bytearray()
    ifd = bytearray(struct.pack(bo + "H", len(entries)))
    for tag, typ, vals in entries:
        total = _SZ[typ] * len(vals)
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(bo + str(len(vals)) + fmt, *vals)
        if total <= 4:
            val = packed + b"\x00" * (4 - total)
        else:
            val = struct.pack(bo + "I", tail_off + len(tail))
            tail += packed
        ifd += struct.pack(bo + "HHI", tag, typ, len(vals)) + val
    ifd += struct.pack(bo + "I", 0)    # next-IFD pointer
    out = bytearray(struct.pack(bo + "2sHI", b"II" if bo == "<"
                                else b"MM", 42, ifd_off))
    for s in strips:
        out += s
    if len(out) & 1:
        out += b"\x00"
    out += ifd + tail
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF LZW: CLEAR, all literals, EOI — no table growth
    beyond the literal range, but EARLY-CHANGE width accounting is
    exercised because the decoder's table still grows per symbol.
    Spec-legal and deterministic (decoder coverage, not compression)."""
    codes = [256] + list(data) + [257]
    out = bytearray()
    acc = nbits = 0
    width = 9
    table_len = 258
    for i, code in enumerate(codes):
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        if code == 256:
            table_len = 258
            width = 9
        elif code != 257 and i > 0:
            # decoder appends one table entry per symbol after the
            # first; mirror its early-change width bumps
            if codes[i - 1] not in (256,):
                table_len += 1
            if table_len + 1 >= (1 << width) and width < 12:
                width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Literal-runs-only PackBits (chunks of <=128)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def decode_pnm(data: bytes) -> np.ndarray:
    """Netpbm P1-P6 (ASCII and raw bitmap/graymap/pixmap) → HxWxC
    uint8. Bit images map 0→255 (white) / 1→0 (black, the PBM
    convention); maxval scales to 8 bits."""
    if len(data) < 2 or data[0:1] != b"P" or data[1:2] not in b"123456":
        raise ValueError("not a netpbm image")
    kind = data[1] - 0x30

    pos = 2

    def tokens():
        nonlocal pos
        while pos < len(data):
            c = data[pos]
            if c in b"# ":
                if c == 0x23:              # comment to end of line
                    nl = data.find(b"\n", pos)
                    pos = len(data) if nl < 0 else nl + 1
                    continue
                pos += 1
                continue
            if c in b"\t\r\n \x0b\x0c":
                pos += 1
                continue
            start = pos
            while pos < len(data) and data[pos] not in b"\t\r\n \x0c":
                pos += 1
            yield data[start:pos]

    t = tokens()
    w = int(next(t))
    h = int(next(t))
    maxval = 1 if kind in (1, 4) else int(next(t))
    if w <= 0 or h <= 0 or maxval <= 0 or w * h > 64_000_000:
        raise ValueError("bad netpbm header")
    ch = 3 if kind in (3, 6) else 1
    if kind in (1, 2, 3):                  # ASCII samples
        vals = []
        need = w * h * ch
        for tok in t:
            vals.append(int(tok))
            if len(vals) >= need:
                break
        if len(vals) < need:
            raise ValueError("truncated netpbm data")
        arr = np.array(vals, dtype=np.int64).reshape(h, w, ch)
        if kind == 1:
            arr = (1 - arr) * 255
        else:
            arr = arr * 255 // maxval
        return arr.astype(np.uint8)
    # raw: exactly one whitespace byte after the header
    pos += 1
    if kind == 4:                          # packed bits, row-padded
        stride = (w + 7) // 8
        raw = np.frombuffer(data, np.uint8, stride * h, pos)
        bits = np.unpackbits(raw.reshape(h, stride), axis=1)[:, :w]
        return ((1 - bits) * 255).astype(np.uint8)[..., None]
    nbytes = w * h * ch * (2 if maxval > 255 else 1)
    raw = np.frombuffer(data, np.uint8, nbytes, pos)
    if maxval > 255:
        samples = raw.reshape(-1, 2)
        vals = (samples[:, 0].astype(np.int64) << 8) | samples[:, 1]
    else:
        vals = raw.astype(np.int64)
    arr = (vals * 255 // maxval).astype(np.uint8)
    return arr.reshape(h, w, ch)


def decode_ico(data: bytes, index: int = 0) -> np.ndarray:
    """ICO/CUR → uint8 RGBA array (h, w, 4) for one directory entry.

    Entries are either embedded PNG (Vista+) — delegated to
    decode_png — or a headerless DIB: BITMAPINFOHEADER with DOUBLED
    height covering the XOR pixel block plus a 1-bit AND transparency
    mask; 8-bit palette, 24-bit and 32-bit XOR data supported. The
    AND mask (or the 32-bit alpha byte) becomes the alpha channel."""
    if len(data) < 6 or data[:4] not in (b"\x00\x00\x01\x00",
                                         b"\x00\x00\x02\x00"):
        raise ValueError("not an ICO/CUR")
    count = struct.unpack_from("<H", data, 4)[0]
    if not 0 <= index < count:
        raise ValueError("no such icon entry")
    e = 6 + 16 * index
    if e + 16 > len(data):
        raise ValueError("truncated icon directory")
    size, off = struct.unpack_from("<II", data, e + 8)
    blob = data[off:off + size]
    if blob[:8] == _SIG:
        png = decode_png(blob)
        if png.shape[2] == 4:
            return png
        rgba = np.full(png.shape[:2] + (4,), 255, dtype=np.uint8)
        rgba[:, :, :png.shape[2]] = png if png.shape[2] == 3 \
            else np.repeat(png, 3, axis=2)
        return rgba
    if len(blob) < 40:
        raise ValueError("truncated DIB")
    hdr, w, h2 = struct.unpack_from("<Iii", blob, 0)
    planes, bits = struct.unpack_from("<HH", blob, 12)
    comp = struct.unpack_from("<I", blob, 16)[0]
    h = abs(h2) // 2
    if hdr < 40 or comp != 0 or bits not in (8, 24, 32):
        raise ValueError(f"unsupported ICO DIB (bits={bits})")
    check_dims(w, h)
    pos = hdr
    pal = None
    if bits == 8:
        n_pal = struct.unpack_from("<I", blob, 32)[0] or 256
        pal = np.frombuffer(blob, dtype=np.uint8, count=4 * n_pal,
                            offset=pos).reshape(-1, 4)
        pos += 4 * n_pal
    stride = (w * bits // 8 + 3) & ~3
    if pos + stride * h > len(blob):
        raise ValueError("truncated XOR data")
    rows = np.frombuffer(blob, dtype=np.uint8, count=stride * h,
                         offset=pos).reshape(h, stride)[::-1]
    pos += stride * h
    if bits == 8:
        idx = rows[:, :w]
        if int(idx.max()) >= len(pal):
            raise ValueError("palette index out of range")
        rgb = pal[idx][:, :, [2, 1, 0]]
        alpha = np.full((h, w), 255, dtype=np.uint8)
    elif bits == 24:
        rgb = rows[:, :w * 3].reshape(h, w, 3)[:, :, [2, 1, 0]]
        alpha = np.full((h, w), 255, dtype=np.uint8)
    else:
        px = rows[:, :w * 4].reshape(h, w, 4)
        rgb = px[:, :, [2, 1, 0]]
        alpha = px[:, :, 3].copy()
    # 1-bit AND mask (present even for 32-bit icons): set bit = fully
    # transparent, unless the 32-bit alpha channel is in use
    mask_stride = ((w + 31) // 32) * 4
    if pos + mask_stride * h <= len(blob) and \
            (bits != 32 or int(alpha.max()) == 0):
        mrows = np.frombuffer(
            blob, dtype=np.uint8, count=mask_stride * h,
            offset=pos).reshape(h, mask_stride)[::-1]
        mbits = np.unpackbits(mrows, axis=1)[:, :w]
        alpha = np.where(mbits == 1, 0, 255).astype(np.uint8)
    out = np.zeros((h, w, 4), dtype=np.uint8)
    out[:, :, :3] = rgb
    out[:, :, 3] = alpha
    return out


def ico_bytes(arr: np.ndarray, as_png: bool = False) -> bytes:
    """Fixture writer: one-entry ICO holding either an embedded PNG
    or a 32-bit DIB (XOR block + all-opaque AND mask)."""
    h, w, c = arr.shape
    if as_png:
        img = png_bytes(arr if c == 3 else arr[:, :, :3])
    else:
        rgba = np.zeros((h, w, 4), dtype=np.uint8)
        rgba[:, :, :3] = arr[:, :, [2, 1, 0]][:, :, :3]  # BGR
        rgba[:, :, 3] = arr[:, :, 3] if c == 4 else 255
        hdr = struct.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0,
                          w * h * 4, 0, 0, 0, 0)
        mask_stride = ((w + 31) // 32) * 4
        img = hdr + rgba[::-1].tobytes() + b"\x00" * (mask_stride * h)
    entry = struct.pack("<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32,
                        len(img), 22)
    return b"\x00\x00\x01\x00\x01\x00" + entry + img


def png_bytes(arr: np.ndarray) -> bytes:
    """uint8 (h, w[, c]) array → PNG bytes (filter 0 rows, one IDAT).
    The deterministic fixture/sink counterpart of :func:`decode_png`
    — byte-stable for identical input arrays."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def channel_means_micro(arr: np.ndarray) -> list[int]:
    """Per-channel mean in integer micro-units: integer pixel sums are
    exact and order-independent, so the same image hashes identically
    on any engine (round-half-up on the single final division)."""
    h, w, c = arr.shape
    npx = h * w
    sums = arr.reshape(npx, c).sum(axis=0, dtype=np.int64)
    return [int((s * 1_000_000 + npx // 2) // npx) for s in sums]


def resize_image(arr: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Deterministic resize: exact block-average pooling when the
    target divides the source; nearest-neighbor (floor grid) sampling
    otherwise. Both are reproducible across partitions/retries —
    no interpolation-library variance."""
    h, w, c = arr.shape
    if h % th == 0 and w % tw == 0:
        bh, bw = h // th, w // tw
        return (arr.reshape(th, bh, tw, bw, c).astype(np.int64)
                .sum(axis=(1, 3)) // (bh * bw)).astype(np.uint8)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs]


@functools.cache
def image_decoders() -> dict:
    """The one media type -> decoder table of the image operators
    (pixel stats, pHash, dHash); each decoder returns a uint8 (h, w, c)
    array.  Built on first use: jpegcodec and webp import this
    module."""
    from tika_spark.analysis.jpegcodec import decode_jpeg
    from tika_spark.analysis.webp import decode_webp
    return {"image/png": decode_png, "image/gif": decode_gif,
            "image/bmp": decode_bmp, "image/x-ms-bmp": decode_bmp,
            "image/jpeg": decode_jpeg, "image/tiff": decode_tiff,
            "image/webp": decode_webp, "image/x-icon": decode_ico,
            "image/vnd.microsoft.icon": decode_ico,
            "image/x-portable-bitmap": decode_pnm,
            "image/x-portable-graymap": decode_pnm,
            "image/x-portable-pixmap": decode_pnm,
            "image/x-portable-anymap": decode_pnm}


def image_pixel_stats(df: DataFrame, id_col: str = "id",
                      payload_col: str = "payload",
                      type_col: str = "media_type") -> DataFrame:
    """(id, payload, type) -> per-image dimensions and exact
    per-channel micro-unit means, through :func:`image_decoders`;
    other types are 'unsupported' rows and corrupt payloads 'error'
    rows (the H1 fault-isolation contract of
    :func:`~tika_spark.analysis.spread.decode_stage`)."""
    from tika_spark.analysis.spread import decode_stage

    def stats(payload: bytes, media_type: str | None):
        decode = image_decoders().get(media_type)
        if decode is None:
            return [(0, 0, 0, [], "unsupported")]
        arr = decode(payload)
        return [(arr.shape[1], arr.shape[0], arr.shape[2],
                 channel_means_micro(arr), "ok")]

    return decode_stage(df, PIXEL_STATS_SCHEMA, stats,
                        (0, 0, 0, [], "error"), id_col, payload_col,
                        type_col)
