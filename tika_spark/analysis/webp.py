"""From-scratch WebP lossless (VP8L) codec (pure Python + numpy).

Decoder for the VP8L bitstream inside a RIFF/WEBP container: LSB-first
bit reading, simple and normal (code-length-coded) canonical prefix
codes, meta-prefix (entropy-image) group selection, color cache, LZ77
backward references with both direct and neighbor distance codes, and
all four transforms (predictor, cross-color, subtract-green,
color-indexing incl. sub-byte pixel bundling) inverted in reverse
stream order. Lossy ``VP8 `` payloads route to the keyframe decoder
in analysis/vp8.py; ``VP8X`` containers are walked for their image
payload.

Reference parity: the reference (tballison/tika) detects WebP and
reads dimensions only (`image/ImageParser.java` family, matched in
media.py `_webp_dims`); pixel decode is pipeline extension beyond the
reference, like the JPEG/GIF/TIFF tier in pixels.py.

Provenance: written from the public "WebP Lossless Bitstream
Specification" (Alakuijala, 2012-2023). One documented deviation:
the 120-entry neighbor distance map is generated from its ordering
rule (all offsets dx in [-8, 8], dy in [0, 8] ahead of the current
pixel, sorted by squared euclidean distance, larger dy first within
a distance, positive dx before negative) rather than transcribed.
The near half is verified against the spec's published table by the
unit tests; fixture streams produced by :func:`webp_bytes` use
direct distance codes, so round-trip exactness never depends on the
far tail.

The fixture encoder (:func:`webp_bytes`) writes genuine VP8L
bitstreams from RGBA arrays — optional palette (color-indexing with
bundling), subtract-green, uniform predictor / cross-color
transforms, color cache and repeated-row LZ77 references — so every
decoder stage is exercised by hypothesis round-trips with NO
third-party codec in the loop. Compression quality is irrelevant at
fixture tier (flat prefix codes are used when Huffman depth would
exceed the format's 15-bit limit).

Scale contract: identical to the rest of the pixel tier — per-row
CPU work inside mapInPandas, dimension/pixel-count guards before any
canvas allocation, corrupt payloads raise ValueError and become
status rows; no shuffle.
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.bitio import (LsbReader, LsbWriter, PrefixCode,
                                       canonical_codes, huffman_lengths)
from tika_spark.analysis.pixels import check_dims

# ------------------------------------------------------- prefix codes

# code lengths are themselves prefix-coded; their code lengths appear
# in this fixed order (shared with DEFLATE's idea, different order)
CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
                     11, 12, 13, 14, 15)

MAX_CODE_LENGTH = 15


def _read_prefix_code(b: LsbReader, alphabet_size: int) -> PrefixCode:
    if b.read(1):                                   # simple code
        num_symbols = b.read(1) + 1
        if b.read(1):                               # 8-bit first sym
            sym0 = b.read(8)
        else:
            sym0 = b.read(1)
        if num_symbols == 1:
            if sym0 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            return PrefixCode(((sym0, 1),))         # 0-bit degenerate
        sym1 = b.read(8)
        if sym0 >= alphabet_size or sym1 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        # one bit each, in TRANSMISSION order (bit 0 = first symbol)
        return PrefixCode(((sym0, 1), (sym1, 1)))

    # normal code: code lengths are themselves prefix-coded
    num_cl = 4 + b.read(4)
    if num_cl > len(CODE_LENGTH_ORDER):
        raise ValueError("bad code-length count")
    cl_lengths = {}
    for i in range(num_cl):
        v = b.read(3)
        if v:
            cl_lengths[CODE_LENGTH_ORDER[i]] = v
    cl_code = PrefixCode(sorted(cl_lengths.items()))

    max_symbol = alphabet_size
    if b.read(1):                                   # use max_symbol
        length_nbits = 2 + 2 * b.read(3)
        max_symbol = 2 + b.read(length_nbits)

    lengths = {}
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        v = cl_code.read(b)
        if v < 16:
            lengths[symbol] = v
            symbol += 1
            if v:
                prev_len = v
        elif v == 16:
            for _ in range(3 + b.read(2)):
                if symbol >= alphabet_size:
                    raise ValueError("code-length repeat overflow")
                lengths[symbol] = prev_len
                symbol += 1
        elif v == 17:
            symbol += 3 + b.read(3)
        else:                                        # 18
            symbol += 11 + b.read(7)
    if symbol > alphabet_size:
        raise ValueError("code-length run overflow")
    return PrefixCode(sorted(lengths.items()))


# --------------------------------------------------- LZ77 prefixes


def _lz77_decode(b: LsbReader, prefix_sym: int) -> int:
    """Length/distance value from its prefix symbol + extra bits."""
    if prefix_sym < 4:
        return prefix_sym + 1
    extra_bits = (prefix_sym - 2) >> 1
    offset = (2 + (prefix_sym & 1)) << extra_bits
    return offset + b.read(extra_bits) + 1


def _lz77_encode(v: int) -> tuple[int, int, int]:
    """(prefix_sym, n_extra_bits, extra) for a length/distance."""
    if v < 5:
        return v - 1, 0, 0
    v -= 1
    hb = v.bit_length() - 1
    shb = (v >> (hb - 1)) & 1
    return 2 * hb + shb, hb - 1, v - ((2 + shb) << (hb - 1))


def _neighbor_map() -> list[tuple[int, int]]:
    """The 120 neighbor (dx, dy) offsets for short distance codes,
    generated from the spec table's ordering rule (see module
    docstring for the parity note)."""
    cand = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cand.append((dx, dy))
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                             p[0] < 0))
    return cand[:120]


NEIGHBOR_MAP = _neighbor_map()


def _plane_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = NEIGHBOR_MAP[code - 1]
    return max(1, dy * xsize + dx)


# ----------------------------------------------------- entropy image


def _cache_hash(argb: np.ndarray, bits: int) -> np.ndarray:
    prod = argb.astype(np.uint64) * np.uint64(0x1E35A7BD)
    return (prod & np.uint64(0xFFFFFFFF)) >> np.uint64(32 - bits)


_GREEN_EXTRA = 24      # LZ77 length prefix symbols after the 256 greens


def _read_groups(b: LsbReader, n_groups: int, cache_bits: int) -> list:
    groups = []
    green_size = 256 + _GREEN_EXTRA + (1 << cache_bits
                                       if cache_bits else 0)
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(b, green_size),
            _read_prefix_code(b, 256),      # red
            _read_prefix_code(b, 256),      # blue
            _read_prefix_code(b, 256),      # alpha
            _read_prefix_code(b, 40),       # distance
        ))
    return groups


def _decode_image_stream(b: LsbReader, w: int, h: int,
                         level0: bool) -> tuple:
    """(argb uint32 array of h*w scan-order pixels, transforms list).

    Transforms are only present (and only read) at level 0; they are
    returned in stream order for the caller to invert in reverse."""
    transforms = []
    if level0:
        seen = set()
        while b.read(1):
            ttype = b.read(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:       # predictor / color
                size_bits = b.read(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(b, bw, bh, False)
                transforms.append((ttype, size_bits, sub))
            elif ttype == 2:                   # subtract green
                transforms.append((2, None, None))
            else:                              # color indexing
                n_colors = b.read(8) + 1
                pal, _ = _decode_image_stream(b, n_colors, 1, False)
                # palette entries are component-wise delta-coded
                pal = pal.view(np.uint8).reshape(-1, 4)
                pal = np.cumsum(pal.astype(np.uint16),
                                axis=0).astype(np.uint8)
                transforms.append((3, n_colors,
                                   pal.copy().view(np.uint32).ravel()))
                if n_colors <= 2:
                    wb = 3
                elif n_colors <= 4:
                    wb = 2
                elif n_colors <= 16:
                    wb = 1
                else:
                    wb = 0
                if wb:
                    transforms[-1] = (3, n_colors,
                                      transforms[-1][2], wb)
                    w = (w + (1 << wb) - 1) >> wb
                else:
                    transforms[-1] = (3, n_colors,
                                      transforms[-1][2], 0)

    cache_bits = 0
    if b.read(1):
        cache_bits = b.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color-cache size")
    cache = np.zeros(1 << cache_bits, dtype=np.uint32) \
        if cache_bits else None

    entropy = None
    ebits = 0
    n_groups = 1
    if level0 and b.read(1):                   # meta prefix codes
        ebits = b.read(3) + 2
        ew = (w + (1 << ebits) - 1) >> ebits
        eh = (h + (1 << ebits) - 1) >> ebits
        eimg, _ = _decode_image_stream(b, ew, eh, False)
        # meta code index = (red << 8) | green
        entropy = (((eimg >> np.uint32(16)) & np.uint32(0xFF))
                   << np.uint32(8)) | ((eimg >> np.uint32(8))
                                       & np.uint32(0xFF))
        entropy = entropy.astype(np.int64)
        n_groups = int(entropy.max()) + 1

    groups = _read_groups(b, n_groups, cache_bits)

    n = w * h
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    ew = (w + (1 << ebits) - 1) >> ebits if entropy is not None else 0
    while pos < n:
        if entropy is not None:
            x, y = pos % w, pos // w
            gidx = int(entropy[(y >> ebits) * ew + (x >> ebits)])
            green_c, red_c, blue_c, alpha_c, dist_c = groups[gidx]
        else:
            green_c, red_c, blue_c, alpha_c, dist_c = groups[0]
        s = green_c.read(b)
        if s < 256:
            g = s
            r = red_c.read(b)
            bl = blue_c.read(b)
            a = alpha_c.read(b)
            px = np.uint32((a << 24) | (r << 16) | (g << 8) | bl)
            out[pos] = px
            if cache is not None:
                cache[int(_cache_hash(np.uint32(px),
                                      cache_bits))] = px
            pos += 1
        elif s < 256 + _GREEN_EXTRA:
            length = _lz77_decode(b, s - 256)
            dcode = _lz77_decode(b, dist_c.read(b))
            dist = _plane_distance(dcode, w)
            if dist > pos:
                raise ValueError("VP8L back-reference before start")
            if pos + length > n:
                raise ValueError("VP8L back-reference overruns image")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                if cache is not None:
                    cache[int(_cache_hash(px, cache_bits))] = px
                pos += 1
        else:
            idx = s - 256 - _GREEN_EXTRA
            if cache is None or idx >= len(cache):
                raise ValueError("color-cache symbol without cache")
            out[pos] = cache[idx]
            pos += 1
    return out, transforms


# ------------------------------------------------- inverse transforms


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return ((a.astype(np.int32) + b.astype(np.int32)) // 2
            ).astype(np.int32)


def _predict(mode: int, L, T, TL, TR) -> np.ndarray:
    """One predicted pixel (int32[4] per-channel) from its decoded
    neighbors; channel order here is [a, r, g, b]."""
    if mode == 0:
        return np.array([255, 0, 0, 0], dtype=np.int32)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:
        p = L.astype(np.int32) + T.astype(np.int32) \
            - TL.astype(np.int32)
        pl = int(np.abs(p - L).sum())
        pt = int(np.abs(p - T).sum())
        return L if pl < pt else T
    if mode == 12:
        return np.clip(L.astype(np.int32) + T.astype(np.int32)
                       - TL.astype(np.int32), 0, 255)
    if mode == 13:
        ave = _avg2(L, T)
        d = ave - TL.astype(np.int32)
        # C-style truncation toward zero on the halved delta
        half = np.where(d >= 0, d // 2, -((-d) // 2))
        return np.clip(ave + half, 0, 255)
    raise ValueError("bad predictor mode")


def _inv_predictor(px: np.ndarray, w: int, h: int, size_bits: int,
                   modes: np.ndarray) -> np.ndarray:
    """px: (h*w, 4) uint8 residuals [a, r, g, b] → reconstructed."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px.astype(np.int32)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = out[i - 1]
            elif x == 0:
                pred = out[i - w]
            else:
                mode = int((modes[(y >> size_bits) * bw
                                  + (x >> size_bits)] >> 8) & 0xFF)
                L = out[i - 1]
                T = out[i - w]
                TL = out[i - w - 1]
                TR = out[i - w + 1]     # x = w-1 wraps to row start
                pred = _predict(mode, L, T, TL, TR)
            out[i] = (out[i] + pred) & 0xFF
    return out.astype(np.uint8)


def _ct_delta(t: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Signed (int8(t) * int8(v)) >> 5 color-transform delta."""
    ts = t.astype(np.int32)
    ts = np.where(ts > 127, ts - 256, ts)
    vs = v.astype(np.int32)
    vs = np.where(vs > 127, vs - 256, vs)
    return (ts * vs) >> 5


def _inv_color_transform(px: np.ndarray, w: int, h: int,
                         size_bits: int,
                         ctes: np.ndarray) -> np.ndarray:
    """px: (h*w, 4) uint8 [a, r, g, b] → cross-color inverted."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    ys = (np.arange(h) >> size_bits)
    xs = (np.arange(w) >> size_bits)
    block = (ys[:, None] * bw + xs[None, :]).ravel()
    cte = ctes[block]                     # uint32 per pixel
    g2r = (cte >> np.uint32(0)) & np.uint32(0xFF)     # blue channel
    g2b = (cte >> np.uint32(8)) & np.uint32(0xFF)     # green channel
    r2b = (cte >> np.uint32(16)) & np.uint32(0xFF)    # red channel
    out = px.astype(np.int32)
    g = out[:, 2]
    out[:, 1] = (out[:, 1] + _ct_delta(g2r, g)) & 0xFF
    out[:, 3] = (out[:, 3] + _ct_delta(g2b, g)
                 + _ct_delta(r2b, out[:, 1])) & 0xFF
    return out.astype(np.uint8)


def _apply_inverse_transforms(argb: np.ndarray, w: int, h: int,
                              transforms: list) -> tuple:
    """Scan-order uint32 pixels + stream-order transforms →
    ((h*w, 4) uint8 [a, r, g, b], final w)."""
    px = argb.view(np.uint8).reshape(-1, 4)[:, ::-1].copy()
    # little-endian uint32 (a<<24|r<<16|g<<8|b) → bytes [b,g,r,a];
    # reversed → [a, r, g, b]
    for t in reversed(transforms):
        if t[0] == 3:                          # color indexing
            _, n_colors, pal, wb = t
            idx = px[:, 2].astype(np.int64)    # green channel
            if wb:
                bpp = 8 >> wb
                packed_w = (w + (1 << wb) - 1) >> wb
                idx = idx.reshape(h, packed_w)
                full = np.zeros((h, w), dtype=np.int64)
                mask = (1 << bpp) - 1
                for x in range(w):
                    sub = (x & ((1 << wb) - 1)) * bpp
                    full[:, x] = (idx[:, x >> wb] >> sub) & mask
                idx = full.ravel()
            pal_px = pal.view(np.uint8).reshape(-1, 4)[:, ::-1]
            safe = np.where(idx < n_colors, idx, 0)
            px = np.where((idx < n_colors)[:, None],
                          pal_px[safe], 0).astype(np.uint8)
        elif t[0] == 2:                        # subtract green
            px = px.astype(np.int32)
            px[:, 1] = (px[:, 1] + px[:, 2]) & 0xFF
            px[:, 3] = (px[:, 3] + px[:, 2]) & 0xFF
            px = px.astype(np.uint8)
        elif t[0] == 1:                        # cross color
            px = _inv_color_transform(px, w, h, t[1], t[2])
        else:                                  # predictor
            px = _inv_predictor(px, w, h, t[1], t[2])
    return px, w


# ------------------------------------------------------------ decode


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L payload (after the chunk header) → (h, w, 4) RGBA."""
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    b = LsbReader(data, 1)
    w = b.read(14) + 1
    h = b.read(14) + 1
    b.read(1)                                  # alpha hint
    if b.read(3) != 0:
        raise ValueError("bad VP8L version")
    check_dims(w, h)
    argb, transforms = _decode_image_stream(b, w, h, True)
    px, w = _apply_inverse_transforms(argb, w, h, transforms)
    rgba = px[:, [1, 2, 3, 0]]                 # [a,r,g,b] → [r,g,b,a]
    return rgba.reshape(h, w, 4)


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF/WEBP container → (h, w, 4) RGBA via the VP8L (lossless)
    or VP8 (lossy keyframe, analysis/vp8.py) payload."""
    data = bytes(data or b"")
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP RIFF container")
    pos = 12
    alpha_body = None
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)    # VP8L carries its own alpha
        if fourcc == b"ALPH":
            alpha_body = body
        if fourcc == b"VP8 ":
            from tika_spark.analysis.vp8 import decode_vp8
            rgba = decode_vp8(body)
            if alpha_body is not None:
                h, w = rgba.shape[:2]
                rgba[:, :, 3] = decode_alpha(alpha_body, w, h)
            return rgba
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8L/VP8 chunk in WEBP container")


# --------------------------------------------------------- animation


def _u24(data: bytes, off: int) -> int:
    return int.from_bytes(data[off:off + 3], "little")


def webp_anim_frames(data: bytes, max_frames: int = 10_000
                     ) -> list[np.ndarray]:
    """Composited RGB frames of an animated WebP (VP8X + ANMF).

    Each ANMF sub-frame (a VP8L or lossy VP8 payload)
    lands on the canvas at its 2px-aligned offset, with
    the spec's blending method (0 = straight-alpha over, integer
    round-half-up; 1 = overwrite) and disposal method (1 = clear the
    frame rectangle to transparent — the browser behavior; the ANIM
    background color is not consulted). Emitted frames are the RGBA
    canvas premultiplied onto black, matching the GIF/APNG
    compositors' RGB output. Raises ValueError for a still WebP (no
    ANMF) — a still image is not a video payload."""
    data = bytes(data or b"")
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP RIFF container")
    pos = 12
    canvas = None
    cw = ch = 0
    out: list[np.ndarray] = []
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + size]
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("short VP8X chunk")
            cw = _u24(body, 4) + 1
            ch = _u24(body, 7) + 1
            check_dims(cw, ch)
            canvas = np.zeros((ch, cw, 4), dtype=np.int64)
        elif fourcc == b"ANMF":
            if canvas is None:
                raise ValueError("ANMF before VP8X")
            if len(body) < 16:
                raise ValueError("short ANMF chunk")
            fx = _u24(body, 0) * 2
            fy = _u24(body, 3) * 2
            fw = _u24(body, 6) + 1
            fh = _u24(body, 9) + 1
            flags = body[15]
            if fx + fw > cw or fy + fh > ch:
                raise ValueError("WebP frame outside the canvas")
            # frame data: inner chunks; find the VP8L payload
            ip = 16
            rgba = None
            while ip + 8 <= len(body):
                fcc = body[ip:ip + 4]
                sz = int.from_bytes(body[ip + 4:ip + 8], "little")
                if fcc == b"VP8L":
                    rgba = decode_vp8l(body[ip + 8:ip + 8 + sz])
                    break
                if fcc == b"VP8 ":
                    from tika_spark.analysis.vp8 import decode_vp8
                    rgba = decode_vp8(body[ip + 8:ip + 8 + sz])
                    break
                ip += 8 + sz + (sz & 1)
            if rgba is None:
                raise ValueError("ANMF without an image payload")
            if rgba.shape[:2] != (fh, fw):
                raise ValueError("ANMF dims disagree with payload")
            f = rgba.astype(np.int64)
            region = canvas[fy:fy + fh, fx:fx + fw]
            if flags & 0x02:                    # no blend: overwrite
                region[:] = f
            else:                               # straight-alpha over
                fa = f[:, :, 3:4]
                ba = region[:, :, 3:4]
                oa255 = fa * 255 + ba * (255 - fa)   # alpha * 255^2
                num = (f[:, :, :3] * fa * 255
                       + region[:, :, :3] * ba * (255 - fa))
                rgb = np.where(oa255 > 0,
                               (num + oa255 // 2) // np.maximum(
                                   oa255, 1), 0)
                region[:, :, :3] = rgb
                region[:, :, 3] = (oa255[:, :, 0] + 127) // 255
            premul = (canvas[:, :, :3] * canvas[:, :, 3:4]
                      + 127) // 255
            out.append(premul.astype(np.uint8))
            if flags & 0x01:                    # dispose: clear rect
                canvas[fy:fy + fh, fx:fx + fw] = 0
            if len(out) > max_frames:
                raise ValueError("too many WebP frames")
        pos += 8 + size + (size & 1)
    if not out:
        raise ValueError("not an animated WebP (no ANMF)")
    return out


def webp_anim_bytes(frames: list[tuple], width: int,
                    height: int) -> bytes:
    """Fixture builder: animated WebP from [(rgba_array, x, y,
    dispose, blend)] sub-frames (x/y must be even — the wire stores
    them in 2px units; blend 0 = alpha over, 1 = overwrite;
    dispose 1 = clear to transparent). Sub-frames are carried as
    VP8L payloads from :func:`webp_bytes`."""
    chunks = bytearray()
    vp8x = bytearray(10)
    vp8x[0] = 0x12                              # animation + alpha
    vp8x[4:7] = (width - 1).to_bytes(3, "little")
    vp8x[7:10] = (height - 1).to_bytes(3, "little")
    chunks += b"VP8X" + len(vp8x).to_bytes(4, "little") + vp8x
    anim = bytes(4) + (0).to_bytes(2, "little")  # bg + loop forever
    chunks += b"ANIM" + len(anim).to_bytes(4, "little") + anim
    for arr, x, y, dispose, blend in frames:
        arr = np.asarray(arr, dtype=np.uint8)
        if x % 2 or y % 2:
            raise ValueError("frame offsets must be even")
        fh, fw = arr.shape[:2]
        if x + fw > width or y + fh > height:
            raise ValueError("frame outside the canvas")
        payload = webp_bytes(arr)[12:]          # the VP8L chunk
        body = bytearray(16)
        body[0:3] = (x // 2).to_bytes(3, "little")
        body[3:6] = (y // 2).to_bytes(3, "little")
        body[6:9] = (fw - 1).to_bytes(3, "little")
        body[9:12] = (fh - 1).to_bytes(3, "little")
        body[12:15] = (40).to_bytes(3, "little")     # duration ms
        body[15] = (0x02 if blend else 0) | (0x01 if dispose else 0)
        body += payload
        chunks += b"ANMF" + len(body).to_bytes(4, "little") + body
        if len(body) & 1:
            chunks += b"\x00"
    riff = b"WEBP" + chunks
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


# ------------------------------------------------------------ encoder
#
# Fixture-tier encoder: genuine VP8L bitstreams from RGBA arrays.
# Prefix codes are true Huffman when the depth fits the format's
# 15-bit limit, else flat equal-length codes — compression is not
# the point, wire-format coverage is.


def _huffman_lengths(freqs: dict) -> dict:
    depth = huffman_lengths(freqs)
    if max(depth.values()) > MAX_CODE_LENGTH:
        flat = max(1, (len(freqs) - 1).bit_length())
        return {s: flat for s in freqs}
    return depth


def _write_prefix_code(w: LsbWriter, lengths: dict,
                       alphabet_size: int) -> dict:
    """Emit a prefix code for the given {symbol: length} profile and
    return the canonical {symbol: (code, len)} encode table."""
    syms = sorted(lengths)
    if len(syms) <= 2 and max(syms) < 256:
        w.write(1, 1)                          # simple code
        w.write(len(syms) - 1, 1)
        if syms[0] <= 1:
            w.write(0, 1)
            w.write(syms[0], 1)
        else:
            w.write(1, 1)
            w.write(syms[0], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}
        w.write(syms[1], 8)
        return {syms[0]: (0, 1), syms[1]: (1, 1)}

    w.write(0, 1)                              # normal code
    last = max(syms)
    # literal length list 0..last (no 16/17/18 runs at fixture tier)
    lens = [lengths.get(s, 0) for s in range(last + 1)]
    used = sorted(set(lens))
    clc_syms = list(used)
    if len(clc_syms) == 1:
        # a 1-symbol clc would be a 0-bit degenerate code; pad the
        # code-length code with an unused second symbol instead
        clc_syms.append(0 if clc_syms[0] != 0 else 1)
        clc_syms.sort()
    clc_len = max(1, (len(clc_syms) - 1).bit_length())
    clc_lengths = {s: clc_len for s in clc_syms}
    clc = canonical_codes(sorted(clc_lengths.items()))
    num_cl = max(CODE_LENGTH_ORDER.index(s) for s in used) + 1
    num_cl = max(num_cl, 4)
    w.write(num_cl - 4, 4)
    for i in range(num_cl):
        w.write(clc_lengths.get(CODE_LENGTH_ORDER[i], 0), 3)
    # max_symbol trick to stop after our literal list
    w.write(1, 1)
    w.write(6, 3)                              # length_nbits = 14
    w.write(len(lens) - 2, 14)
    for ln in lens:
        code, n = clc[ln]
        w.write_code(code, n)
    return canonical_codes(sorted(lengths.items()))


def webp_bytes(arr: np.ndarray, palette: bool = False,
               cache_bits: int = 0, subtract_green: bool = False,
               predictor: int | None = None,
               color_cte: tuple | None = None,
               row_refs: bool = False) -> bytes:
    """RGBA (h, w, 4) uint8 → genuine RIFF/WEBP VP8L bytes.

    ``palette``: color-indexing transform (with sub-byte bundling
    when <= 16 distinct colors). ``cache_bits``: enable the color
    cache. ``predictor``: uniform predictor transform with that mode
    (0..13). ``color_cte``: uniform cross-color transform
    (green_to_red, green_to_blue, red_to_blue) signed ints.
    ``row_refs``: encode repeated consecutive rows as LZ77 backward
    references with direct distance codes. Transform combinations
    are limited to what the fixture tier needs: palette excludes the
    others; subtract_green/predictor/color_cte compose in stream
    order [subtract_green, color, predictor]."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 4:
        raise ValueError("webp_bytes wants (h, w, 4) RGBA")
    h, w_, _ = arr.shape
    if not (0 < w_ <= 1 << 14 and 0 < h <= 1 << 14):
        raise ValueError("dimensions exceed VP8L's 14-bit fields")
    if palette and (subtract_green or predictor is not None
                    or color_cte is not None):
        raise ValueError("palette excludes other fixture transforms")
    if (predictor is not None or color_cte is not None) \
            and (w_ > 512 or h > 512):
        raise ValueError("uniform transform fixtures cap at 512px "
                         "(single 2^9 block)")

    wtr = LsbWriter()
    wtr.write(0x2F, 8)
    wtr.write(w_ - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(1 if (arr[:, :, 3] != 255).any() else 0, 1)
    wtr.write(0, 3)                            # version

    # [a, r, g, b] per pixel, scan order
    px = arr.reshape(-1, 4)[:, [3, 0, 1, 2]].astype(np.int32)
    coded_w = w_

    if palette:
        pal, idx = np.unique(px, axis=0, return_inverse=True)
        idx = idx.ravel()
        n_colors = len(pal)
        if n_colors > 256:
            raise ValueError("palette mode needs <= 256 colors")
        wtr.write(1, 1)                        # transform present
        wtr.write(3, 2)                        # color indexing
        wtr.write(n_colors - 1, 8)
        deltas = np.diff(np.vstack([np.zeros((1, 4), dtype=np.int32),
                                    pal]), axis=0) & 0xFF
        _encode_substream(wtr, deltas, n_colors, 1)
        wtr.write(0, 1)                        # no more transforms
        if n_colors <= 2:
            wb = 3
        elif n_colors <= 4:
            wb = 2
        elif n_colors <= 16:
            wb = 1
        else:
            wb = 0
        if wb:
            bpp = 8 >> wb
            packed_w = (w_ + (1 << wb) - 1) >> wb
            packed = np.zeros((h, packed_w), dtype=np.int32)
            ii = idx.reshape(h, w_)
            for x in range(w_):
                packed[:, x >> wb] |= ii[:, x] << ((x & ((1 << wb)
                                                         - 1)) * bpp)
            coded_w = packed_w
            greens = packed.ravel()
        else:
            greens = idx
        px = np.zeros((h * coded_w, 4), dtype=np.int32)
        px[:, 0] = 255
        px[:, 2] = greens
    else:
        if subtract_green:
            wtr.write(1, 1)
            wtr.write(2, 2)
        if color_cte is not None:
            wtr.write(1, 1)
            wtr.write(1, 2)
            wtr.write(7, 3)                    # size_bits-2 max blocks
            g2r, g2b, r2b = (v & 0xFF for v in color_cte)
            cte_px = np.array([[0, r2b, g2b, g2r]], dtype=np.int32)
            _encode_substream(wtr, cte_px, 1, 1)
        if predictor is not None:
            wtr.write(1, 1)
            wtr.write(0, 2)
            wtr.write(7, 3)                    # one block: size 512
            mode_px = np.array([[255, 0, predictor, 0]],
                               dtype=np.int32)
            _encode_substream(wtr, mode_px, 1, 1)
        wtr.write(0, 1)                        # no more transforms
        # forward transforms, applied in stream order
        if subtract_green:
            px[:, 1] = (px[:, 1] - px[:, 2]) & 0xFF
            px[:, 3] = (px[:, 3] - px[:, 2]) & 0xFF
        if color_cte is not None:
            g2r, g2b, r2b = color_cte
            g = px[:, 2]
            red0 = px[:, 1].copy()
            px[:, 1] = (px[:, 1]
                        - _ct_delta(np.full_like(g, g2r & 0xFF), g)) \
                & 0xFF
            px[:, 3] = (px[:, 3]
                        - _ct_delta(np.full_like(g, g2b & 0xFF), g)
                        - _ct_delta(np.full_like(g, r2b & 0xFF),
                                    red0)) & 0xFF
        if predictor is not None:
            rec = px.copy()                    # original = recon
            res = np.zeros_like(px)
            for y in range(h):
                for x in range(w_):
                    i = y * w_ + x
                    if x == 0 and y == 0:
                        pred = np.array([255, 0, 0, 0],
                                        dtype=np.int32)
                    elif y == 0:
                        pred = rec[i - 1]
                    elif x == 0:
                        pred = rec[i - w_]
                    else:
                        pred = _predict(predictor, rec[i - 1],
                                        rec[i - w_], rec[i - w_ - 1],
                                        rec[i - w_ + 1])
                    res[i] = (rec[i] - pred) & 0xFF
            px = res

    if palette:
        _encode_substream(wtr, px, coded_w, h, cache_bits=0,
                          row_refs=False, level0=True)
    else:
        _encode_substream(wtr, px, coded_w, h, cache_bits=cache_bits,
                          row_refs=row_refs, level0=True)
    wtr.align()
    payload = bytes(wtr.out)

    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def _encode_substream(wtr: LsbWriter, px: np.ndarray, w: int, h: int,
                      cache_bits: int = 0, row_refs: bool = False,
                      level0: bool = False) -> None:
    """Entropy-coded image for (h*w, 4) [a, r, g, b] pixels: cache
    bit, single prefix-code group, literal/backref/cache symbols.
    Used for both transform sub-images and the main image (the main
    image's transforms are written by the caller)."""
    n = w * h
    if px.shape != (n, 4):
        raise ValueError("substream shape mismatch")
    # plan the symbol stream first (histograms need it)
    cache = np.zeros(1 << cache_bits, dtype=np.uint32) \
        if cache_bits else None
    argb = ((px[:, 0].astype(np.uint32) << 24)
            | (px[:, 1].astype(np.uint32) << 16)
            | (px[:, 2].astype(np.uint32) << 8)
            | px[:, 3].astype(np.uint32))
    ops = []            # ("lit", i) | ("cache", idx) | ("ref", len, d)
    pos = 0
    while pos < n:
        y = pos // w
        if (row_refs and pos % w == 0 and y > 0
                and np.array_equal(argb[pos:pos + w],
                                   argb[pos - w:pos])):
            ops.append(("ref", w, w))
            if cache is not None:
                for i in range(pos, pos + w):
                    cache[int(_cache_hash(argb[i], cache_bits))] = \
                        argb[i]
            pos += w
            continue
        if cache is not None:
            hidx = int(_cache_hash(argb[pos], cache_bits))
            if cache[hidx] == argb[pos]:
                ops.append(("cache", hidx))
                pos += 1
                continue
            cache[hidx] = argb[pos]
        ops.append(("lit", pos))
        pos += 1

    gfreq, rfreq, bfreq, afreq, dfreq = {}, {}, {}, {}, {}
    for op in ops:
        if op[0] == "lit":
            i = op[1]
            gfreq[int(px[i, 2])] = gfreq.get(int(px[i, 2]), 0) + 1
            rfreq[int(px[i, 1])] = rfreq.get(int(px[i, 1]), 0) + 1
            bfreq[int(px[i, 3])] = bfreq.get(int(px[i, 3]), 0) + 1
            afreq[int(px[i, 0])] = afreq.get(int(px[i, 0]), 0) + 1
        elif op[0] == "cache":
            s = 256 + _GREEN_EXTRA + op[1]
            gfreq[s] = gfreq.get(s, 0) + 1
        else:
            lcode, _, _ = _lz77_encode(op[1])
            gfreq[256 + lcode] = gfreq.get(256 + lcode, 0) + 1
            dcode, _, _ = _lz77_encode(op[2] + 120)
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
    for f in (rfreq, bfreq, afreq, dfreq):
        if not f:
            f[0] = 1                           # unused code: 1 symbol

    if cache_bits:
        wtr.write(1, 1)
        wtr.write(cache_bits, 4)
    else:
        wtr.write(0, 1)
    if level0:
        wtr.write(0, 1)                        # no meta prefix codes

    green_size = 256 + _GREEN_EXTRA + (1 << cache_bits
                                       if cache_bits else 0)
    gt = _write_prefix_code(wtr, _huffman_lengths(gfreq), green_size)
    rt = _write_prefix_code(wtr, _huffman_lengths(rfreq), 256)
    bt = _write_prefix_code(wtr, _huffman_lengths(bfreq), 256)
    at = _write_prefix_code(wtr, _huffman_lengths(afreq), 256)
    dt = _write_prefix_code(wtr, _huffman_lengths(dfreq), 40)

    for op in ops:
        if op[0] == "lit":
            i = op[1]
            wtr.write_code(*gt[int(px[i, 2])])
            wtr.write_code(*rt[int(px[i, 1])])
            wtr.write_code(*bt[int(px[i, 3])])
            wtr.write_code(*at[int(px[i, 0])])
        elif op[0] == "cache":
            wtr.write_code(*gt[256 + _GREEN_EXTRA + op[1]])
        else:
            lcode, leb, lex = _lz77_encode(op[1])
            wtr.write_code(*gt[256 + lcode])
            if leb:
                wtr.write(lex, leb)
            dcode, deb, dex = _lz77_encode(op[2] + 120)
            wtr.write_code(*dt[dcode])
            if deb:
                wtr.write(dex, deb)


# ------------------------------------------------------------- alpha


def _unfilter_alpha(a: np.ndarray, filt: int) -> np.ndarray:
    """Invert the ALPH prediction filter in place (h, w int array).
    0 = none, 1 = horizontal (pred = left; first column: above),
    2 = vertical (pred = above; first row: left), 3 = gradient
    (clamp(left + above - above-left)); the (0,0) pixel is raw."""
    if filt == 0:
        return a
    h, w = a.shape
    if filt == 1:
        for y in range(h):
            if y > 0:
                a[y, 0] = (a[y, 0] + a[y - 1, 0]) & 0xFF
            for x in range(1, w):
                a[y, x] = (a[y, x] + a[y, x - 1]) & 0xFF
    elif filt == 2:
        for x in range(1, w):
            a[0, x] = (a[0, x] + a[0, x - 1]) & 0xFF
        for y in range(1, h):
            a[y, :] = (a[y, :] + a[y - 1, :]) & 0xFF
    elif filt == 3:
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    continue
                if y == 0:
                    pred = int(a[0, x - 1])
                elif x == 0:
                    pred = int(a[y - 1, 0])
                else:
                    pred = int(a[y, x - 1]) + int(a[y - 1, x]) \
                        - int(a[y - 1, x - 1])
                    pred = 0 if pred < 0 else 255 if pred > 255 \
                        else pred
                a[y, x] = (a[y, x] + pred) & 0xFF
    else:
        raise ValueError("bad ALPH filter")
    return a


def _filter_alpha(a: np.ndarray, filt: int) -> np.ndarray:
    """Forward filter (encoder): residuals such that _unfilter_alpha
    reproduces ``a`` exactly."""
    if filt == 0:
        return a.copy()
    h, w = a.shape
    out = a.astype(np.int32).copy()
    if filt == 1:
        for y in range(h - 1, -1, -1):
            for x in range(w - 1, 0, -1):
                out[y, x] = (out[y, x] - a[y, x - 1]) & 0xFF
            if y > 0:
                out[y, 0] = (out[y, 0] - a[y - 1, 0]) & 0xFF
    elif filt == 2:
        for y in range(h - 1, 0, -1):
            out[y, :] = (out[y, :] - a[y - 1, :]) & 0xFF
        for x in range(w - 1, 0, -1):
            out[0, x] = (out[0, x] - a[0, x - 1]) & 0xFF
    elif filt == 3:
        for y in range(h - 1, -1, -1):
            for x in range(w - 1, -1, -1):
                if x == 0 and y == 0:
                    continue
                if y == 0:
                    pred = int(a[0, x - 1])
                elif x == 0:
                    pred = int(a[y - 1, 0])
                else:
                    pred = int(a[y, x - 1]) + int(a[y - 1, x]) \
                        - int(a[y - 1, x - 1])
                    pred = 0 if pred < 0 else 255 if pred > 255 \
                        else pred
                out[y, x] = (out[y, x] - pred) & 0xFF
    return out


def decode_alpha(body: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk body -> (h, w) uint8 alpha plane. Header byte:
    compression (bits 0-1: 0 raw, 1 VP8L green channel), filter
    (bits 2-3), preprocessing (bits 4-5, informative)."""
    if not body:
        raise ValueError("empty ALPH chunk")
    hdr = body[0]
    compression = hdr & 3
    filt = (hdr >> 2) & 3
    if compression == 0:
        raw = body[1:1 + w * h]
        if len(raw) < w * h:
            raise ValueError("short raw ALPH plane")
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
        a = a.reshape(h, w).copy()
    elif compression == 1:
        b = LsbReader(body, 1)
        argb, transforms = _decode_image_stream(b, w, h, True)
        px, w2 = _apply_inverse_transforms(argb, w, h, transforms)
        if w2 != w:
            raise ValueError("ALPH sub-stream width mismatch")
        a = px[:, 2].astype(np.int32).reshape(h, w)   # green channel
    else:
        raise ValueError("reserved ALPH compression method")
    return _unfilter_alpha(a, filt).astype(np.uint8)


def alpha_chunk_bytes(alpha: np.ndarray, compression: int = 1,
                      filt: int = 0) -> bytes:
    """(h, w) uint8 alpha plane -> ALPH chunk body (fixture
    encoder; compression 0 = raw, 1 = VP8L green channel)."""
    alpha = np.asarray(alpha, dtype=np.uint8)
    h, w = alpha.shape
    res = _filter_alpha(alpha, filt).astype(np.uint8)
    hdr = bytes(((0 << 4) | (filt << 2) | compression,))
    if compression == 0:
        return hdr + res.tobytes()
    wtr = LsbWriter()
    wtr.write(0, 1)                        # no transforms
    px = np.zeros((h * w, 4), dtype=np.int32)
    px[:, 0] = 255
    px[:, 2] = res.ravel()                 # alpha in the green channel
    _encode_substream(wtr, px, w, h, level0=True)
    wtr.align()
    return hdr + bytes(wtr.out)
