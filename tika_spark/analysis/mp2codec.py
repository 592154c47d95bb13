"""From-scratch MPEG-1 Audio Layer I/II codec (ISO/IEC 11172-3).

Layer II is what real-world MPEG program/transport streams carry
(DVB/HLS captures mux MP2 far more often than Layer III), so this
module closes the demux tier's audio gap: ``mpegts.ts_audio_es`` /
program-stream audio with stream_type 0x03/0x04 now decodes to PCM
whether the elementary stream is Layer II or Layer III.

Reference parity: the reference's ``mp3/Mp3Parser.java`` reads frame
headers (it accepts all three layers) and ID3 tags at the metadata
tier only — already matched in media.py; sample decode is pipeline
extension, not a port.

Design: Layers I-III share the 32-band polyphase synthesis
filterbank (ISO §2.4.3.2) — imported from
:mod:`tika_spark.analysis.mp3codec` (``_Synth``) — and differ only
in how subband samples are coded. Layer II codes each subband with a
per-frame bit allocation chosen from one of four tables (Annex B
Tables B.2a-d, selected by sample rate and per-channel bitrate),
three scalefactors per subband per frame with scfsi sharing, and
subband samples quantized to odd step counts, the 3/5/9-level
quantizers packing three consecutive samples into one base-n
"grouped" code. Dequantization is the Annex B Table B.4 affine form
``s'' = C * (s''' + D)`` with s''' the MSB-inverted fraction.

The fixture encoder (:func:`mp2_bytes`) writes genuine Layer II
bitstreams from chosen subband values (nearest-code quantization,
no psychoacoustics) so every decoder stage — allocation walk, scfsi,
grouped/ungrouped sample reads, dequant, both scalefactor parts,
synthesis — is exercised by tests and oracle fixtures. A mid-code
(silent) stream decodes to exact digital silence, giving the
closed-form oracle used by ``media_mp2_stats``.

Like mp3codec, the synthesis prototype is the exact-TDAC
Princen-Bradley sine window rather than ISO Table B.3 — swap the
window for spec-encoder interop (same machinery, documented in
mp3codec._synth_window).
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.bitio import MsbReader, MsbWriter
from tika_spark.analysis.mp3codec import (SAMPLERATES, Mp3Error,
                                          _Synth)

BITRATES_L2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320, 384)

# scalefactor table (ISO Table B.1): sf[i] = 2 * 2^(-i/3), i in 0..62
SCALEFACTORS = tuple(2.0 * 2.0 ** (-i / 3.0) for i in range(63))

# ------------------------------------------------- allocation tables
#
# Annex B Tables B.2a-d: per subband, (nbal, quantizer step counts
# selectable by the nbal-bit allocation index; index 0 = no samples).

_L16 = (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
        16383, 32767, 65535)
_L15 = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
        8191, 65535)
_L7 = (3, 5, 7, 9, 15, 31, 65535)
_L3 = (3, 5, 65535)
_LC16 = (3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
         16383, 32767)
_LC7 = (3, 5, 9, 15, 31, 63, 127)

TABLE_A = ((4, _L16),) * 3 + ((4, _L15),) * 8 + ((3, _L7),) * 12 \
    + ((2, _L3),) * 4                               # sblimit 27
TABLE_B = TABLE_A[:23] + ((2, _L3),) * 7            # sblimit 30
TABLE_C = ((4, _LC16),) * 2 + ((3, _LC7),) * 6      # sblimit 8
TABLE_D = ((4, _LC16),) * 2 + ((3, _LC7),) * 10     # sblimit 12


def alloc_table(rate: int, bitrate: int, nch: int) -> tuple:
    """Annex B Table B.1 selection by sample rate and per-channel
    bitrate: <=48 kbps/ch uses the 8-subband low-rate table (the
    12-subband variant at 32 kHz); 56-80 kbps/ch and everything at
    48 kHz uses the 27-subband table; higher rates at 44.1/32 kHz
    use the 30-subband table."""
    per_ch = bitrate // nch
    if per_ch <= 48:
        return TABLE_D if rate == 32000 else TABLE_C
    if per_ch <= 80 or rate == 48000:
        return TABLE_A
    return TABLE_B


# grouped quantizers pack 3 samples into one base-n code of this
# many bits (ISO Table B.4 rows with "grouping" set)
_GROUP_BITS = {3: 5, 5: 7, 9: 10}


def _quant_class(nlevels: int) -> tuple[bool, int, float, float]:
    """(grouped, bits_per_code, C, D) for a step count (Table B.4).

    Ungrouped counts are 2^k - 1 with k-bit codes, C = 2^k/(2^k-1),
    D = 2^(1-k); the grouped 5/9-level quantizers use C = 8/5, 16/9
    with D = 1/2 (3 levels follows the 2^k-1 formula with k = 2)."""
    if nlevels in (5, 9):
        return True, _GROUP_BITS[nlevels], \
            (8.0 / 5.0 if nlevels == 5 else 16.0 / 9.0), 0.5
    k = (nlevels + 1).bit_length() - 1      # nlevels = 2^k - 1
    grouped = nlevels == 3
    bits = _GROUP_BITS[3] if grouped else k
    return grouped, bits, (1 << k) / ((1 << k) - 1.0), 2.0 ** (1 - k)


def _dequant_digit(d: int, nlevels: int, c: float, dd: float) -> float:
    """One sample from its (degrouped) code: s''' = d/divisor - 1
    with divisor = (nlevels+1)/2 for 2^k-1 counts and nlevels-1 for
    the grouped 5/9 quantizers; then s'' = C * (s''' + D)."""
    div = (nlevels - 1) if nlevels in (5, 9) else (nlevels + 1) // 2
    return c * (d / div - 1.0 + dd)


def parse_frame_header(data: bytes, pos: int):
    """dict for a valid MPEG-1 Layer II header at ``pos``, else
    None. Same fields as mp3codec.parse_frame_header."""
    if pos + 4 > len(data):
        return None
    h = int.from_bytes(data[pos:pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    if (h >> 19) & 3 != 3 or (h >> 17) & 3 != 2:   # MPEG-1, Layer II
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    bitrate = BITRATES_L2[br_idx]
    rate = SAMPLERATES[sr_idx]
    padding = (h >> 9) & 1
    mode = ("stereo", "joint", "dual", "mono")[(h >> 6) & 3]
    return {
        "bitrate": bitrate, "samplerate": rate, "padding": padding,
        "protection": not ((h >> 16) & 1), "mode": mode,
        "mode_ext": (h >> 4) & 3, "nch": 1 if mode == "mono" else 2,
        "frame_bytes": 144 * bitrate * 1000 // rate + padding,
    }


def _decode_frame(hdr: dict, body: bytes, synth: list,
                  out: list) -> None:
    nch = hdr["nch"]
    table = alloc_table(hdr["samplerate"], hdr["bitrate"], nch)
    sblimit = len(table)
    # joint stereo: subbands >= bound share allocation and samples
    # (intensity), with per-channel scalefactors (ISO §2.4.1.6)
    bound = sblimit
    if hdr["mode"] == "joint":
        bound = min((hdr["mode_ext"] + 1) * 4, sblimit)
    b = MsbReader(body)

    alloc = [[0] * sblimit for _ in range(nch)]
    for sb in range(sblimit):
        nbal, levels = table[sb]
        if sb < bound:
            for ch in range(nch):
                idx = b.read(nbal)
                alloc[ch][sb] = levels[idx - 1] if idx else 0
        else:
            idx = b.read(nbal)
            v = levels[idx - 1] if idx else 0
            for ch in range(nch):
                alloc[ch][sb] = v

    scfsi = [[0] * sblimit for _ in range(nch)]
    for sb in range(sblimit):
        for ch in range(nch):
            if alloc[ch][sb]:
                scfsi[ch][sb] = b.read(2)

    sf = [[(1.0, 1.0, 1.0)] * sblimit for _ in range(nch)]
    for sb in range(sblimit):
        for ch in range(nch):
            if not alloc[ch][sb]:
                continue
            si = scfsi[ch][sb]
            if si == 0:
                f = (b.read(6), b.read(6), b.read(6))
            elif si == 1:
                a, c = b.read(6), b.read(6)
                f = (a, a, c)
            elif si == 2:
                a = b.read(6)
                f = (a, a, a)
            else:
                a, c = b.read(6), b.read(6)
                f = (a, c, c)
            if max(f) > 62:
                raise Mp3Error("illegal Layer II scalefactor index")
            sf[ch][sb] = tuple(SCALEFACTORS[i] for i in f)

    s = np.zeros((36, 32, nch))
    for gr in range(12):
        part = gr // 4
        for sb in range(sblimit):
            read_chs = range(nch) if sb < bound else (0,)
            vals: list = [None] * nch
            for ch in read_chs:
                nlev = alloc[ch][sb]
                if not nlev:
                    continue
                grouped, bits, c, d = _quant_class(nlev)
                if grouped:
                    code = b.read(bits)
                    if code >= nlev ** 3:
                        raise Mp3Error("Layer II group code overflow")
                    digs = (code % nlev, (code // nlev) % nlev,
                            code // (nlev * nlev))
                else:
                    digs = (b.read(bits), b.read(bits), b.read(bits))
                vals[ch] = [_dequant_digit(dg, nlev, c, d)
                            for dg in digs]
            if sb >= bound and vals[0] is not None:
                vals = [vals[0]] * nch          # intensity: shared
            for ch in range(nch):
                if vals[ch] is None:
                    continue
                fac = sf[ch][sb][part]
                for j in range(3):
                    s[3 * gr + j, sb, ch] = vals[ch][j] * fac

    for ch in range(nch):
        pcm0 = synth[ch].run(s[:18, :, ch])
        pcm1 = synth[ch].run(s[18:, :, ch])
        out.append((ch, np.concatenate([pcm0, pcm1])))


def decode_mp2(data: bytes) -> tuple[np.ndarray, int]:
    """(samples int16 [n, nch], sample_rate). Full Layer II decode
    of every valid frame; ID3v2 prefix skipped."""
    data = bytes(data or b"")
    pos = _skip_id3(data)
    frames = []
    rate = None
    nch = None
    while pos + 4 <= len(data):
        hdr = parse_frame_header(data, pos)
        if hdr is None:
            pos += 1
            continue
        if rate is None:
            rate, nch = hdr["samplerate"], hdr["nch"]
        if hdr["samplerate"] != rate or hdr["nch"] != nch:
            raise Mp3Error("mixed stream parameters")
        end = pos + hdr["frame_bytes"]
        if end > len(data):
            break
        body = pos + 4 + (2 if hdr["protection"] else 0)
        frames.append((hdr, data[body:end]))
        pos = end
    if not frames:
        raise Mp3Error("no MPEG-1 Layer II frames")

    synth = [_Synth() for _ in range(nch)]
    chunks: list = []
    for hdr, body in frames:
        _decode_frame(hdr, body, synth, chunks)
    n_frames = len(frames)
    out = np.zeros((1152 * n_frames, nch))
    for i in range(n_frames):
        for ch, pcm in chunks[i * nch:(i + 1) * nch]:
            out[1152 * i:1152 * (i + 1), ch] = pcm
    out = np.clip(np.rint(out * 32768.0), -32768, 32767)
    return out.astype(np.int16), rate


# ------------------------------------------------------------ Layer I
#
# Layer I (ISO §2.4.1.5 / §2.4.2.5) is the simplest family member:
# 384 samples per frame (12 granules x 32 subbands x 1 sample), a
# 4-bit allocation code per subband (code n -> n+1 bits per sample,
# 2^(n+1)-1 steps; code 15 forbidden), ONE 6-bit Table B.1
# scalefactor per coded subband (no scfsi), and the same ungrouped
# affine dequant as Layer II — so _quant_class/_dequant_digit are
# reused verbatim. Frames are slot-aligned to 4 bytes.

BITRATES_L1 = (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320,
               352, 384, 416, 448)


def parse_frame_header_l1(data: bytes, pos: int):
    """dict for a valid MPEG-1 Layer I header at ``pos``, else None.
    Same fields as :func:`parse_frame_header`."""
    if pos + 4 > len(data):
        return None
    h = int.from_bytes(data[pos:pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    if (h >> 19) & 3 != 3 or (h >> 17) & 3 != 3:   # MPEG-1, Layer I
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    bitrate = BITRATES_L1[br_idx]
    rate = SAMPLERATES[sr_idx]
    padding = (h >> 9) & 1
    mode = ("stereo", "joint", "dual", "mono")[(h >> 6) & 3]
    return {
        "bitrate": bitrate, "samplerate": rate, "padding": padding,
        "protection": not ((h >> 16) & 1), "mode": mode,
        "mode_ext": (h >> 4) & 3, "nch": 1 if mode == "mono" else 2,
        "frame_bytes": (12 * bitrate * 1000 // rate + padding) * 4,
    }


def _decode_frame_l1(hdr: dict, body: bytes, synth: list,
                     out: list) -> None:
    nch = hdr["nch"]
    bound = 32
    if hdr["mode"] == "joint":
        bound = min((hdr["mode_ext"] + 1) * 4, 32)
    b = MsbReader(body)

    alloc = [[0] * 32 for _ in range(nch)]
    for sb in range(32):
        if sb < bound:
            for ch in range(nch):
                code = b.read(4)
                if code == 15:
                    raise Mp3Error("forbidden Layer I allocation")
                alloc[ch][sb] = (1 << (code + 1)) - 1 if code else 0
        else:
            code = b.read(4)
            if code == 15:
                raise Mp3Error("forbidden Layer I allocation")
            v = (1 << (code + 1)) - 1 if code else 0
            for ch in range(nch):
                alloc[ch][sb] = v

    sf = [[1.0] * 32 for _ in range(nch)]
    for sb in range(32):
        for ch in range(nch):
            if alloc[ch][sb]:
                i = b.read(6)
                if i > 62:
                    raise Mp3Error("illegal Layer I scalefactor")
                sf[ch][sb] = SCALEFACTORS[i]

    s = np.zeros((12, 32, nch))
    for gr in range(12):
        for sb in range(32):
            read_chs = range(nch) if sb < bound else (0,)
            vals: list = [None] * nch
            for ch in read_chs:
                nlev = alloc[ch][sb]
                if not nlev:
                    continue
                # Layer I is always ungrouped: nlev = 2^k - 1 reads
                # a k-bit code (the Layer II 3-level quantizer's
                # 5-bit grouping does not exist here)
                _, _, c, d = _quant_class(nlev)
                bits = (nlev + 1).bit_length() - 1
                vals[ch] = _dequant_digit(b.read(bits), nlev, c, d)
            if sb >= bound and vals[0] is not None:
                vals = [vals[0]] * nch          # intensity: shared
            for ch in range(nch):
                if vals[ch] is not None:
                    s[gr, sb, ch] = vals[ch] * sf[ch][sb]

    for ch in range(nch):
        out.append((ch, synth[ch].run(s[:, :, ch])))


def decode_mp1(data: bytes) -> tuple[np.ndarray, int]:
    """(samples int16 [n, nch], sample_rate). Full Layer I decode of
    every valid frame; ID3v2 prefix skipped."""
    data = bytes(data or b"")
    pos = _skip_id3(data)
    frames = []
    rate = None
    nch = None
    while pos + 4 <= len(data):
        hdr = parse_frame_header_l1(data, pos)
        if hdr is None:
            pos += 1
            continue
        if rate is None:
            rate, nch = hdr["samplerate"], hdr["nch"]
        if hdr["samplerate"] != rate or hdr["nch"] != nch:
            raise Mp3Error("mixed stream parameters")
        end = pos + hdr["frame_bytes"]
        if end > len(data):
            break
        body = pos + 4 + (2 if hdr["protection"] else 0)
        frames.append((hdr, data[body:end]))
        pos = end
    if not frames:
        raise Mp3Error("no MPEG-1 Layer I frames")

    synth = [_Synth() for _ in range(nch)]
    chunks: list = []
    for hdr, body in frames:
        _decode_frame_l1(hdr, body, synth, chunks)
    n_frames = len(frames)
    out = np.zeros((384 * n_frames, nch))
    for i in range(n_frames):
        for ch, pcm in chunks[i * nch:(i + 1) * nch]:
            out[384 * i:384 * (i + 1), ch] = pcm
    out = np.clip(np.rint(out * 32768.0), -32768, 32767)
    return out.astype(np.int16), rate


def mp1_bytes(frames, rate: int = 44100, mode: str = "mono",
              bitrate: int = 192, allocation=None,
              scalefactor_idx: int = 0) -> bytes:
    """Subband-domain frames → genuine Layer I bytes.

    ``frames``: list of (12, 32) (mono) or (12, 32, 2) (stereo)
    float arrays of target subband values in [-1, 1). ``allocation``
    maps subband → bits-per-sample code 1..14 (nlevels =
    2^(code+1) - 1); default codes every subband at 2 bits/sample."""
    if mode not in ("mono", "stereo"):
        raise ValueError("fixture encoder writes mono/stereo only")
    nch = 1 if mode == "mono" else 2
    if allocation is None:
        allocation = {sb: 1 for sb in range(32)}
    for sb, code in allocation.items():
        if not 1 <= code <= 14:
            raise ValueError("Layer I allocation code must be 1..14")

    hdr = 0xFFF << 20 | 0x3 << 19 | 0x3 << 17 | 1 << 16   # L1, no CRC
    hdr |= BITRATES_L1.index(bitrate) << 12
    hdr |= SAMPLERATES.index(rate) << 10
    hdr |= (3 if mode == "mono" else 0) << 6
    frame_bytes = 12 * bitrate * 1000 // rate * 4
    sfv = SCALEFACTORS[scalefactor_idx]

    out = bytearray()
    for fr in frames:
        a = np.asarray(fr, dtype=float)
        if a.ndim == 2:
            a = a[:, :, None]
        if a.shape != (12, 32, nch):
            raise ValueError("frame must be (12, 32[, nch])")
        w = MsbWriter()
        w.write(hdr, 32)
        for sb in range(32):
            code = allocation.get(sb, 0)
            for _ in range(nch):
                w.write(code, 4)
        for sb in range(32):
            if sb in allocation:
                for _ in range(nch):
                    w.write(scalefactor_idx, 6)
        for gr in range(12):
            for sb in range(32):
                if sb not in allocation:
                    continue
                nlev = (1 << (allocation[sb] + 1)) - 1
                for ch in range(nch):
                    w.write(_nearest_code(
                        float(a[gr, sb, ch]) / sfv, nlev),
                        allocation[sb] + 1)     # always ungrouped
        w.align()
        if len(w.out) > frame_bytes:
            raise ValueError(
                f"frame needs {len(w.out)} bytes > {frame_bytes}; "
                "raise the bitrate")
        w.out.extend(b"\x00" * (frame_bytes - len(w.out)))
        out.extend(w.out)
    return bytes(out)


def _skip_id3(data: bytes) -> int:
    if data[:3] == b"ID3" and len(data) >= 10:
        return 10 + (((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14)
                     | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F))
    return 0


def sniff_layer(data: bytes) -> int:
    """1/2/3 from the first valid MPEG-1 audio sync in ``data``
    (ID3v2 prefix skipped), else 0."""
    data = bytes(data or b"")
    pos = _skip_id3(data)
    while pos + 4 <= len(data):
        h = int.from_bytes(data[pos:pos + 4], "big")
        if (h >> 21) & 0x7FF == 0x7FF and (h >> 19) & 3 == 3:
            layer_bits = (h >> 17) & 3
            if layer_bits in (1, 2, 3):
                return 4 - layer_bits       # '11'=I, '10'=II, '01'=III
        pos += 1
    return 0


def decode_mpeg_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Layer-sniffing front door: routes an MPEG-1 audio elementary
    stream (audio/mpeg — TS/PS stream_type 0x03/0x04, .mp1/.mp2/.mp3
    files) to the Layer I, II or III decoder."""
    layer = sniff_layer(data)
    if layer == 1:
        return decode_mp1(data)
    if layer == 2:
        return decode_mp2(data)
    from tika_spark.analysis.mp3codec import decode_mp3
    return decode_mp3(data)


# ------------------------------------------------------------ encoder
#
# Fixture-tier encoder: genuine Layer II bitstreams from chosen
# subband values via nearest-code quantization (no psychoacoustics,
# no analysis filterbank) — exercises every decoder stage with known
# inputs. decode(encode(x)) equals the module's own quantize-dequant
# of x, which tests recompute with plain loops.


def _nearest_code(x: float, nlevels: int) -> tuple:
    """(digit(s) domain value) nearest code for target sample x in
    [-1, 1): inverts _dequant_digit over the valid code range."""
    grouped, _, c, d = _quant_class(nlevels)
    div = (nlevels - 1) if nlevels in (5, 9) else (nlevels + 1) // 2
    dg = int(round((x / c - d + 1.0) * div))
    return max(0, min(nlevels - 1, dg))


def mp2_bytes(frames, rate: int = 48000, mode: str = "mono",
              bitrate: int = 192, allocation=None,
              scalefactor_idx: int = 0, scfsi: int = 0) -> bytes:
    """Subband-domain frames → genuine Layer II bytes.

    ``frames``: list of (36, 32) (mono) or (36, 32, 2) (stereo)
    float arrays of target subband values in [-1, 1). ``allocation``
    maps subband → step count (must exist in the selected B.2 table
    row); default allocates the first selectable quantizer on every
    coded subband, covering grouped (3-level) and ungrouped rows.
    ``scalefactor_idx`` indexes ISO Table B.1 (0 → factor 2.0) —
    scalar, or a 3-tuple giving one index per frame third (requires
    indices compatible with ``scfsi``'s sharing pattern); ``scfsi``
    applies to every coded subband."""
    if mode not in ("mono", "stereo"):
        raise ValueError("fixture encoder writes mono/stereo only")
    sf_idx = (scalefactor_idx,) * 3 \
        if isinstance(scalefactor_idx, int) else tuple(scalefactor_idx)
    if len(sf_idx) != 3:
        raise ValueError("scalefactor_idx: int or 3-tuple")
    shared = {1: ((0, 1),), 2: ((0, 1), (1, 2)), 3: ((1, 2),)}
    for a_, b_ in shared.get(scfsi, ()):
        if sf_idx[a_] != sf_idx[b_]:
            raise ValueError("scalefactor parts conflict with scfsi")
    nch = 1 if mode == "mono" else 2
    table = alloc_table(rate, bitrate, nch)
    sblimit = len(table)
    if allocation is None:
        allocation = {sb: table[sb][1][0] for sb in range(sblimit)}
    for sb, nlev in allocation.items():
        if nlev not in table[sb][1]:
            raise ValueError(
                f"step count {nlev} not selectable in subband {sb}")

    hdr = 0xFFF << 20 | 0x3 << 19 | 0x2 << 17 | 1 << 16   # L2, no CRC
    hdr |= BITRATES_L2.index(bitrate) << 12
    hdr |= SAMPLERATES.index(rate) << 10
    hdr |= (3 if mode == "mono" else 0) << 6
    frame_bytes = 144 * bitrate * 1000 // rate

    out = bytearray()
    for fr in frames:
        a = np.asarray(fr, dtype=float)
        if a.ndim == 2:
            a = a[:, :, None]
        if a.shape != (36, 32, nch):
            raise ValueError("frame must be (36, 32[, nch])")
        w = MsbWriter()
        w.write(hdr, 32)
        for sb in range(sblimit):
            nbal, levels = table[sb]
            idx = levels.index(allocation[sb]) + 1 \
                if sb in allocation else 0
            for _ in range(nch):
                w.write(idx, nbal)
        for sb in range(sblimit):
            if sb in allocation:
                for _ in range(nch):
                    w.write(scfsi, 2)
        wire_sf = {0: (0, 1, 2), 1: (0, 2), 2: (0,), 3: (0, 1)}[scfsi]
        for sb in range(sblimit):
            if sb in allocation:
                for _ in range(nch):
                    for part in wire_sf:
                        w.write(sf_idx[part], 6)
        for gr in range(12):
            sfv = SCALEFACTORS[sf_idx[gr // 4]]
            for sb in range(sblimit):
                if sb not in allocation:
                    continue
                nlev = allocation[sb]
                grouped, bits, _, _ = _quant_class(nlev)
                for ch in range(nch):
                    digs = [_nearest_code(
                        float(a[3 * gr + j, sb, ch]) / sfv, nlev)
                        for j in range(3)]
                    if grouped:
                        w.write(digs[0] + nlev * digs[1]
                                + nlev * nlev * digs[2], bits)
                    else:
                        for dg in digs:
                            w.write(dg, bits)
        w.align()
        if len(w.out) > frame_bytes:
            raise ValueError(
                f"frame needs {len(w.out)} bytes > {frame_bytes}; "
                "raise the bitrate")
        w.out.extend(b"\x00" * (frame_bytes - len(w.out)))
        out.extend(w.out)
    return bytes(out)
