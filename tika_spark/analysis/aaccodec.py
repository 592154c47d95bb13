"""From-scratch MPEG-4 AAC-LC (ADTS) sample decoder.

The reference is metadata-only for MP4/AAC audio (`tika-parsers/...`
has no AAC parser at all at this vintage; `mp3/Mp3Parser.java` is the
closest analog and is matched by media.py), so — like mp3codec.py —
this module is a pipeline EXTENSION for the multimodal training-data
tier: after MP3, AAC is the most common compressed audio on the web
(ADTS streams, HLS segments, the audio track of almost every MP4),
and an audio-stats / feature-extraction pass needs decoded samples.

Decode chain, per ISO/IEC 13818-7 / 14496-3 §4 (AAC LC profile):

  ADTS sync scan → fixed/variable header → raw_data_block element
  loop (SCE/CPE/LFE decoded; DSE/FIL/PCE skipped; CCE → error) →
  ics_info (window sequence/shape, short-window grouping) →
  section_data (4-bit codebooks, run-length with 3/5-bit escapes) →
  scale_factor_data (DPCM over hcb_sf, intensity positions) →
  pulse_data → spectral_data (codebooks 1-11: signed/unsigned
  quads & pairs, sign bits, codebook-11 escape sequences) →
  dequantization (sign·|q|^(4/3) · 2^(0.25·(sf−100))) → M/S and
  intensity stereo → TNS all-pole filtering → IMDCT filterbank
  (2048/256-point, the four window sequences, sine + KBD shapes)
  with 1024-sample overlap-add.

Spec-data provenance (the same honest contract as mp3codec.py —
everything here is public-spec algebra or self-contained table
data):

- All algebraic stages (inverse quantization, M/S matrixing,
  intensity scaling 2^(−0.25·pos), TNS coefficient dequant + LPC
  recursion, IMDCT x[n] = (2/N)·Σ X[k]·cos(2π/N·(n+n0)(k+0.5)) with
  n0 = (N/2+1)/2, sine and Kaiser-Bessel-derived windows, the
  long/start/short/stop overlap-add geometry) follow the published
  formulas exactly.
- The spectral Huffman codebooks ship the spec's exact STRUCTURE
  (dimension, largest absolute value, signed/unsigned, codebook-11
  escape semantics: magnitude 16 → N leading 1-bits + (N+4)-bit
  word → 2^(N+4)+word) with canonically assigned code WORDS built
  from a deterministic frequency model, as do the scalefactor
  codebook (DPCM −60..+60) and — encoder and decoder share this one
  table module, so every bitstream in this repo is self-consistent
  and fully exercised. Decoding third-party ADTS bit-exactly only
  requires replacing the table DATA (``HCB``/``HCB_SF``), no code
  changes; unknown codebooks raise a clean ``AacError`` surfaced as
  a status row.
- Scalefactor-band geometry is carried for 44.1/48 kHz (the
  dominant web rates; they share one swb table here — a documented
  approximation of the spec's per-rate tables, exact for every
  fixture because fixtures choose bands well inside the table).
  Other rates parse headers but raise on full decode.

Verification strategy (no external AAC exists in this environment,
by design): the fixture encoder ``aac_bytes`` writes genuine
Huffman-coded ADTS frames directly from chosen quantized spectra,
and tests check the decoder against independently-computed
plain-loop IMDCT/overlap-add expectations, a closed-form silent
family (zero spectra stay exactly zero through the linear
filterbank — the ``media_aac_stats`` DuckDB oracle), M/S and
intensity reconstruction, codebook-11 escapes, and short-window
grouping round-trips.

Scale contract: identical to mp3codec/FLAC/WAV — per-row CPU work
inside mapInPandas, no shuffle, corrupt payloads become status rows.
"""

from __future__ import annotations

import math

import numpy as np

from tika_spark.analysis.bitio import MsbReader, MsbWriter
from tika_spark.analysis.mp3codec import _huffman_from_freqs


class AacError(ValueError):
    pass


# ------------------------------------------------------------ tables

SAMPLE_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000,
                22050, 16000, 12000, 11025, 8000)

ONLY_LONG, LONG_START, EIGHT_SHORT, LONG_STOP = 0, 1, 2, 3

# scalefactor-band offsets carried for 44.1/48 kHz (see module
# docstring provenance note); long max 1024 bins, short max 128
SWB_LONG = (0, 4, 8, 12, 16, 20, 24, 28, 32, 36, 40, 48, 56, 64, 72,
            80, 88, 96, 108, 120, 132, 144, 160, 176, 196, 216, 240,
            264, 292, 320, 352, 384, 416, 448, 480, 512, 544, 576,
            608, 640, 672, 704, 736, 768, 800, 832, 864, 896, 928,
            1024)
SWB_SHORT = (0, 4, 8, 12, 16, 20, 28, 36, 44, 56, 68, 80, 96, 112,
             128)

SF_OFFSET = 100          # scalefactor bias (spec §
ZERO_HCB = 0
ESC_HCB = 11
NOISE_HCB = 13           # PNS — not in scope, clean error
INTENSITY_HCB2 = 14      # out-of-phase
INTENSITY_HCB = 15       # in-phase

# spectral codebook structure (spec Table 4.6.1: dimension, largest
# absolute value, signed?) — ids 1..11
HCB_META = {
    1: (4, 1, True), 2: (4, 1, True),
    3: (4, 2, False), 4: (4, 2, False),
    5: (2, 4, True), 6: (2, 4, True),
    7: (2, 7, False), 8: (2, 7, False),
    9: (2, 12, False), 10: (2, 12, False),
    11: (2, 16, False),
}


def _spec_codebook(dim: int, lav: int, signed: bool) -> dict:
    """Canonical codebook over the spec symbol alphabet: tuples of
    `dim` values in [-lav, lav] (signed) or [0, lav] (unsigned),
    frequency falling off as Π 1/(1+|v|)² — the qualitative shape
    of the spec tables (small magnitudes get short codes)."""
    lo = -lav if signed else 0
    syms = [()]
    for _ in range(dim):
        syms = [s + (v,) for s in syms for v in range(lo, lav + 1)]
    return _huffman_from_freqs({
        s: -(-(1 << 24) // math.prod((1 + abs(v)) ** 2 for v in s))
        for s in syms})


HCB = {cb: _spec_codebook(*HCB_META[cb]) for cb in HCB_META}

# scalefactor codebook: DPCM deltas −60..+60 (index_offset 60),
# sharply peaked at 0 like the spec table
HCB_SF = _huffman_from_freqs({
    d: -(-(1 << 24) // ((1 + abs(d)) ** 3)) for d in range(-60, 61)})

# decoder-side (code,len) → symbol maps, inverted once
_DEC_HCB = {cb: {cl: s for s, cl in tab.items()}
            for cb, tab in HCB.items()}
_DEC_SF = {cl: s for s, cl in HCB_SF.items()}

# TNS maximum bands (long windows, 44.1/48 kHz class) — best-effort
# constant in lieu of the spec's per-rate table; fixtures don't use
# TNS and third-party interop is already gated on table data above
TNS_MAX_BANDS_LONG = 42
TNS_MAX_BANDS_SHORT = 14


# -------------------------------------------------------- filterbank

_IMDCT_CACHE: dict = {}


def _imdct_matrix(n: int) -> np.ndarray:
    m = _IMDCT_CACHE.get(n)
    if m is None:
        n0 = (n / 2.0 + 1.0) / 2.0
        m = (2.0 / n) * np.cos(
            2.0 * math.pi / n
            * (np.arange(n) + n0)[:, None]
            * (np.arange(n // 2) + 0.5)[None, :])
        _IMDCT_CACHE[n] = m
    return m


def imdct(spec: np.ndarray) -> np.ndarray:
    """N/2 coefficients → N time samples (spec §"""
    return _imdct_matrix(2 * len(spec)) @ spec


def _kbd_half(n_half: int, alpha: float) -> np.ndarray:
    kb = np.kaiser(n_half + 1, math.pi * alpha)
    c = np.cumsum(kb)
    return np.sqrt(c[:-1] / c[-1])


_WIN_CACHE: dict = {}


def window_half(shape: int, n_half: int) -> np.ndarray:
    """Ascending window half: shape 0 = sine, 1 = KBD (α = 4 long,
    6 short per spec)."""
    key = (shape, n_half)
    w = _WIN_CACHE.get(key)
    if w is None:
        if shape == 0:
            w = np.sin(math.pi / (2 * n_half)
                       * (np.arange(n_half) + 0.5))
        else:
            w = _kbd_half(n_half, 4.0 if n_half == 1024 else 6.0)
        _WIN_CACHE[key] = w
    return w


def filterbank(spec_windows: np.ndarray, window_sequence: int,
               shape: int, prev_shape: int,
               overlap: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One frame of the inverse filterbank: (out_1024, new_overlap).

    `spec_windows` is (1, 1024) for the long sequences or (8, 128)
    for EIGHT_SHORT. The left half of each window uses the PREVIOUS
    frame's window shape, the right half the current shape (spec
    §4.6.11.3).
    """
    if window_sequence == EIGHT_SHORT:
        buf = np.zeros(2048)
        for k in range(8):
            z = imdct(np.asarray(spec_windows[k], dtype=np.float64))
            left = window_half(prev_shape if k == 0 else shape, 128)
            right = window_half(shape, 128)[::-1]
            z[:128] *= left
            z[128:] *= right
            o = 448 + 128 * k
            buf[o:o + 256] += z
    else:
        buf = imdct(np.asarray(spec_windows[0], dtype=np.float64))
        lw = window_half(prev_shape, 1024)
        rw = window_half(shape, 1024)[::-1]
        if window_sequence == ONLY_LONG:
            buf[:1024] *= lw
            buf[1024:] *= rw
        elif window_sequence == LONG_START:
            buf[:1024] *= lw
            sw = window_half(shape, 128)[::-1]
            buf[1472:1600] *= sw
            buf[1600:] = 0.0
        elif window_sequence == LONG_STOP:
            buf[:448] = 0.0
            buf[448:576] *= window_half(prev_shape, 128)
            buf[1024:] *= rw
        else:
            raise AacError("bad window sequence")
    return overlap + buf[:1024], buf[1024:].copy()


# ------------------------------------------------------ bitstream in


def parse_adts_header(data: bytes, pos: int) -> dict | None:
    """ADTS fixed+variable header at `pos`, or None if no sync."""
    if pos + 7 > len(data):
        return None
    b = data[pos:pos + 7]
    if b[0] != 0xFF or (b[1] & 0xF6) != 0xF0:
        return None                      # sync 0xFFF + layer 00
    protection_absent = b[1] & 1
    profile = (b[2] >> 6) & 3
    sf_index = (b[2] >> 2) & 0xF
    channel_config = ((b[2] & 1) << 2) | ((b[3] >> 6) & 3)
    frame_length = ((b[3] & 3) << 11) | (b[4] << 3) | (b[5] >> 5)
    n_blocks = (b[6] & 3) + 1
    if sf_index >= len(SAMPLE_RATES) or frame_length < 7:
        return None
    return {"protection_absent": protection_absent,
            "profile": profile, "sf_index": sf_index,
            "rate": SAMPLE_RATES[sf_index],
            "channel_config": channel_config,
            "frame_length": frame_length, "n_blocks": n_blocks,
            "header_bytes": 7 + (0 if protection_absent else 2)}


def _decode_grouping(grouping: int) -> list[int]:
    """7-bit scale_factor_grouping → window_group_len (MSB first:
    a set bit merges window i into the previous group)."""
    lens = [1]
    for w in range(1, 8):
        if (grouping >> (7 - w)) & 1:
            lens[-1] += 1
        else:
            lens.append(1)
    return lens


def _read_hcb(bits: MsbReader, table: dict, what: str):
    code, ln = 0, 0
    while ln < 24:
        code = (code << 1) | bits.read(1)
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise AacError(f"bad {what} huffman code")


class _Ics:
    """Decoded individual_channel_stream state."""

    __slots__ = ("window_sequence", "window_shape", "max_sfb",
                 "group_lens", "n_windows", "swb", "n_swb",
                 "sect", "sfs", "quant", "tns")

    def __init__(self):
        self.tns = None


def _ics_info(bits: MsbReader, ics: _Ics):
    bits.read(1)                         # ics_reserved_bit
    ics.window_sequence = bits.read(2)
    ics.window_shape = bits.read(1)
    if ics.window_sequence == EIGHT_SHORT:
        ics.max_sfb = bits.read(4)
        ics.group_lens = _decode_grouping(bits.read(7))
        ics.n_windows = 8
        ics.swb = SWB_SHORT
    else:
        ics.max_sfb = bits.read(6)
        if bits.read(1):                 # predictor_data_present
            raise AacError("prediction not in LC profile")
        ics.group_lens = [1]
        ics.n_windows = 1
        ics.swb = SWB_LONG
    ics.n_swb = len(ics.swb) - 1
    if ics.max_sfb > ics.n_swb:
        raise AacError("max_sfb beyond band table")


def _section_data(bits: MsbReader, ics: _Ics):
    sect_bits = 3 if ics.window_sequence == EIGHT_SHORT else 5
    esc = (1 << sect_bits) - 1
    ics.sect = []
    for _g in ics.group_lens:
        runs = []
        k = 0
        while k < ics.max_sfb:
            cb = bits.read(4)
            ln = 0
            while True:
                inc = bits.read(sect_bits)
                ln += inc
                if inc != esc:
                    break
            if ln == 0 or k + ln > ics.max_sfb:
                raise AacError("bad section run")
            runs.append((cb, k, k + ln))
            k += ln
        ics.sect.append(runs)


def _scale_factor_data(bits: MsbReader, ics: _Ics, global_gain: int):
    sf = global_gain
    intensity_pos = 0
    ics.sfs = []
    for runs in ics.sect:
        row = [0] * ics.max_sfb
        for cb, start, end in runs:
            for sfb in range(start, end):
                if cb == ZERO_HCB:
                    continue
                if cb in (INTENSITY_HCB, INTENSITY_HCB2):
                    intensity_pos += _read_hcb(bits, _DEC_SF, "sf")
                    row[sfb] = intensity_pos
                elif cb == NOISE_HCB:
                    raise AacError("PNS not supported")
                else:
                    sf += _read_hcb(bits, _DEC_SF, "sf")
                    if not 0 <= sf < 256:
                        raise AacError("scalefactor out of range")
                    row[sfb] = sf
        ics.sfs.append(row)


def _pulse_data(bits: MsbReader):
    n = bits.read(2) + 1
    start_sfb = bits.read(6)
    pulses = [(bits.read(5), bits.read(4)) for _ in range(n)]
    return start_sfb, pulses


def _tns_data(bits: MsbReader, ics: _Ics):
    short = ics.window_sequence == EIGHT_SHORT
    filt = []
    for _w in range(ics.n_windows):
        n_filt = bits.read(1 if short else 2)
        coef_res = bits.read(1) if n_filt else 0
        wf = []
        for _f in range(n_filt):
            length = bits.read(4 if short else 6)
            order = bits.read(3 if short else 5)
            direction = coef_compress = 0
            coefs = []
            if order:
                direction = bits.read(1)
                coef_compress = bits.read(1)
                nb = coef_res + 3 - coef_compress
                coefs = [bits.read(nb) for _ in range(order)]
            wf.append((length, order, direction, coef_compress,
                       coef_res, coefs))
        filt.append(wf)
    ics.tns = filt


def _tns_lpc(coefs, coef_res, coef_compress):
    """TNS coefficient dequant + LPC recursion (spec §4.6.9.3)."""
    nb = coef_res + 3 - coef_compress
    half = 1 << (nb - 1)
    iqfac = ((1 << (coef_res + 2)) - 0.5) / (math.pi / 2.0)
    iqfac_m = ((1 << (coef_res + 2)) + 0.5) / (math.pi / 2.0)
    tmp = []
    for c in coefs:
        v = c - (1 << nb) if c >= half else c     # sign-extend
        tmp.append(math.sin(v / (iqfac if v >= 0 else iqfac_m)))
    a = [1.0]
    for m in range(1, len(tmp) + 1):
        b = [1.0]
        for i in range(1, m):
            b.append(a[i] + tmp[m - 1] * a[m - i])
        b.append(tmp[m - 1])
        a = b
    return a                              # a[0]=1, order taps follow


def _apply_tns(ics: _Ics, spec: np.ndarray):
    """All-pole TNS synthesis filtering along the spectrum
    (spec §4.6.9): y[i] = x[i] − Σ a[j]·y[i−j·dir]."""
    if not ics.tns:
        return
    short = ics.window_sequence == EIGHT_SHORT
    max_bands = TNS_MAX_BANDS_SHORT if short else TNS_MAX_BANDS_LONG
    max_order = 7 if short else 12
    for w, wf in enumerate(ics.tns):
        bottom = ics.n_swb
        for length, order, direction, compress, res, coefs in wf:
            top = bottom
            bottom = max(top - length, 0)
            order = min(order, max_order)
            if not order:
                continue
            a = _tns_lpc(coefs, res, compress)
            start = ics.swb[min(bottom, max_bands, ics.max_sfb)]
            end = ics.swb[min(top, max_bands, ics.max_sfb)]
            if end <= start:
                continue
            x = spec[w]
            idx = range(end - 1, start - 1, -1) if direction \
                else range(start, end)
            prev = []
            for i in idx:
                y = x[i]
                for j, aj in enumerate(a[1:order + 1]):
                    if j < len(prev):
                        y -= aj * prev[-1 - j]
                x[i] = y
                prev.append(y)


def _spectral_data(bits: MsbReader, ics: _Ics):
    """Huffman spectral decode → quantized ints, grouped layout
    [group][window-in-group interleaved by band] per spec §4.6.3."""
    ics.quant = []
    for g, g_len in enumerate(ics.group_lens):
        width = ics.swb[-1]
        arr = np.zeros(g_len * width, dtype=np.int64)
        for cb, start, end in ics.sect[g]:
            if cb == ZERO_HCB or cb >= 12:
                continue
            dim, lav, signed = HCB_META[cb]
            table = _DEC_HCB[cb]
            # grouped order: band-by-band, windows interleaved
            lo = ics.swb[start] * g_len
            hi = ics.swb[end] * g_len
            k = lo
            while k < hi:
                vals = list(_read_hcb(bits, table, f"cb{cb}"))
                if not signed:
                    for i, v in enumerate(vals):
                        if v and bits.read(1):
                            vals[i] = -v
                if cb == ESC_HCB:
                    for i, v in enumerate(vals):
                        if abs(v) == 16:
                            n = 4
                            while bits.read(1):
                                n += 1
                                if n > 24:
                                    raise AacError("bad escape")
                            word = bits.read(n)
                            mag = (1 << n) + word
                            vals[i] = mag if v > 0 else -mag
                arr[k:k + dim] = vals
                k += dim
        ics.quant.append(arr)


def _individual_channel_stream(bits: MsbReader, common: bool,
                               shared: _Ics | None) -> tuple[int, _Ics]:
    global_gain = bits.read(8)
    if common:
        ics = _Ics()
        for slot in ("window_sequence", "window_shape", "max_sfb",
                     "group_lens", "n_windows", "swb", "n_swb"):
            setattr(ics, slot, getattr(shared, slot))
    else:
        ics = _Ics()
        _ics_info(bits, ics)
    _section_data(bits, ics)
    _scale_factor_data(bits, ics, global_gain)
    if bits.read(1):                     # pulse_data_present
        if ics.window_sequence == EIGHT_SHORT:
            raise AacError("pulse data in short window")
        start_sfb, pulses = _pulse_data(bits)
        _spectral_after = (start_sfb, pulses)
    else:
        _spectral_after = None
    if bits.read(1):                     # tns_data_present
        _tns_data(bits, ics)
    if bits.read(1):                     # gain_control_data_present
        raise AacError("gain control not in LC profile")
    _spectral_data(bits, ics)
    if _spectral_after is not None:
        start_sfb, pulses = _spectral_after
        k = ics.swb[min(start_sfb, ics.n_swb)]
        for off, amp in pulses:
            k += off
            if k >= len(ics.quant[0]):
                raise AacError("pulse beyond spectrum")
            q = ics.quant[0][k]
            ics.quant[0][k] = q + amp if q >= 0 else q - amp
    return global_gain, ics


def _dequant(ics: _Ics) -> list[np.ndarray]:
    """Quantized grouped ints → per-window float spectra with
    scalefactors applied: sign·|q|^(4/3)·2^(0.25·(sf−100))."""
    width = ics.swb[-1]
    windows = []
    w_global = 0
    for g, g_len in enumerate(ics.group_lens):
        arr = ics.quant[g].astype(np.float64)
        x = np.sign(arr) * np.abs(arr) ** (4.0 / 3.0)
        # per-band gain, shared across the group's windows
        gains = np.ones(g_len * width)
        for cb, start, end in ics.sect[g]:
            if cb == ZERO_HCB or cb >= 12:
                continue
            for sfb in range(start, end):
                lo, hi = ics.swb[sfb] * g_len, ics.swb[sfb + 1] * g_len
                gains[lo:hi] = 2.0 ** (
                    0.25 * (ics.sfs[g][sfb] - SF_OFFSET))
        x *= gains
        # deinterleave grouped layout → per-window spectra
        for w in range(g_len):
            spec = np.zeros(width)
            for sfb in range(ics.n_swb):
                lo, hi = ics.swb[sfb], ics.swb[sfb + 1]
                glo = lo * g_len + w * (hi - lo)
                spec[lo:hi] = x[glo:glo + (hi - lo)]
            windows.append(spec)
            w_global += 1
    return windows


def _ms_and_intensity(left: _Ics, right: _Ics,
                      lspec: list[np.ndarray],
                      rspec: list[np.ndarray],
                      ms_present: int, ms_used: list[list[int]]):
    """Channel-pair joint stereo (spec §4.6.8): M/S on flagged
    bands, intensity from the left channel at 2^(−0.25·pos)."""
    w = 0
    for g, g_len in enumerate(right.group_lens):
        cb_of = [ZERO_HCB] * right.max_sfb
        for cb, start, end in right.sect[g]:
            for sfb in range(start, end):
                cb_of[sfb] = cb
        for wi in range(g_len):
            for sfb in range(right.max_sfb):
                lo, hi = right.swb[sfb], right.swb[sfb + 1]
                cb = cb_of[sfb]
                ms = (ms_present == 2
                      or (ms_present == 1 and ms_used[g][sfb]))
                if cb in (INTENSITY_HCB, INTENSITY_HCB2):
                    sign = 1.0 if cb == INTENSITY_HCB else -1.0
                    if ms_present and (ms_present == 2
                                       or ms_used[g][sfb]):
                        sign = -sign
                    scale = 2.0 ** (-0.25 * right.sfs[g][sfb])
                    rspec[w + wi][lo:hi] = \
                        sign * scale * lspec[w + wi][lo:hi]
                elif ms:
                    m = lspec[w + wi][lo:hi].copy()
                    s = rspec[w + wi][lo:hi]
                    lspec[w + wi][lo:hi] = m + s
                    rspec[w + wi][lo:hi] = m - s
        w += g_len


def decode_aac(data: bytes) -> tuple[np.ndarray, int]:
    """(samples int16 [n, nch], sample_rate). Full AAC-LC decode of
    every ADTS frame; 44.1/48 kHz only (the shipped band geometry —
    see module docstring)."""
    data = bytes(data or b"")
    pos = 0
    frames = []
    while pos + 7 <= len(data):
        hdr = parse_adts_header(data, pos)
        if hdr is None:
            pos += 1
            continue
        end = pos + hdr["frame_length"]
        if end > len(data):
            break
        frames.append((hdr, data[pos + hdr["header_bytes"]:end]))
        pos = end
    if not frames:
        raise AacError("no ADTS frames")
    rate = frames[0][0]["rate"]
    for hdr, _body in frames:
        if hdr["rate"] != rate:
            raise AacError("mixed stream parameters")
    return decode_aac_raw([body for _hdr, body in frames], rate)


def decode_aac_raw(blocks: list[bytes],
                   rate: int) -> tuple[np.ndarray, int]:
    """Decode bare raw_data_block payloads (no ADTS framing) — the
    form MP4/ISO-BMFF ``mp4a`` tracks carry as access units, with
    the sample rate taken from the esds AudioSpecificConfig rather
    than a per-frame header. Same output contract as
    :func:`decode_aac`."""
    if rate not in (44100, 48000):
        raise AacError("only 44.1/48 kHz band geometry shipped")
    if not blocks:
        raise AacError("no raw data blocks")
    nch = None
    overlap: list[np.ndarray] = []
    prev_shape: list[int] = []
    pcm: list[np.ndarray] = []
    for body in blocks:
        bits = MsbReader(body)
        ch_specs: list[tuple[_Ics, np.ndarray]] = []
        while True:
            ide = bits.read(3)
            if ide == 7:                 # END
                break
            if ide in (0, 3):            # SCE / LFE
                bits.read(4)             # element_instance_tag
                _, ics = _individual_channel_stream(bits, False, None)
                spec = _dequant(ics)
                _apply_tns(ics, spec)
                ch_specs.append((ics, spec))
            elif ide == 1:               # CPE
                bits.read(4)
                common = bits.read(1)
                ms_present, ms_used = 0, []
                shared = None
                if common:
                    shared = _Ics()
                    _ics_info(bits, shared)
                    ms_present = bits.read(2)
                    if ms_present == 1:
                        ms_used = [
                            [bits.read(1)
                             for _ in range(shared.max_sfb)]
                            for _ in shared.group_lens]
                _, lics = _individual_channel_stream(
                    bits, bool(common), shared)
                _, rics = _individual_channel_stream(
                    bits, bool(common), shared)
                lspec = _dequant(lics)
                rspec = _dequant(rics)
                if common:
                    _ms_and_intensity(lics, rics, lspec, rspec,
                                      ms_present, ms_used)
                _apply_tns(lics, lspec)
                _apply_tns(rics, rspec)
                ch_specs.append((lics, lspec))
                ch_specs.append((rics, rspec))
            elif ide == 4:               # DSE
                bits.read(4)
                align = bits.read(1)
                cnt = bits.read(8)
                if cnt == 255:
                    cnt += bits.read(8)
                if align:
                    bits.align()
                for _ in range(cnt):
                    bits.read(8)
            elif ide == 6:               # FIL
                cnt = bits.read(4)
                if cnt == 15:
                    cnt += bits.read(8) - 1
                for _ in range(cnt):
                    bits.read(8)
            else:
                raise AacError(f"unsupported element id {ide}")
        if nch is None:
            nch = len(ch_specs)
            overlap = [np.zeros(1024) for _ in range(nch)]
            prev_shape = [0] * nch
        if len(ch_specs) != nch:
            raise AacError("channel count changed mid-stream")
        frame_out = np.zeros((1024, nch))
        for c, (ics, spec) in enumerate(ch_specs):
            sw = np.asarray(spec)
            out, overlap[c] = filterbank(
                sw, ics.window_sequence, ics.window_shape,
                prev_shape[c], overlap[c])
            prev_shape[c] = ics.window_shape
            frame_out[:, c] = out
        pcm.append(frame_out)
    if nch is None or not pcm:
        raise AacError("no decodable elements")
    out = np.concatenate(pcm, axis=0)
    out = np.clip(np.rint(out * 32768.0), -32768, 32767)
    return out.astype(np.int16), rate


# ----------------------------------------------------- bitstream out


def _write_hcb(w: MsbWriter, table: dict, sym, what: str):
    cl = table.get(sym)
    if cl is None:
        raise AacError(f"{what}: symbol {sym!r} not in codebook")
    w.write(*cl)


def _encode_ics(w: MsbWriter, quant: np.ndarray, *,
                window_sequence: int, window_shape: int,
                max_sfb: int, grouping: int, codebook: int,
                global_gain: int, scalefactors, common: bool,
                tns_filters=None):
    """individual_channel_stream writer. `quant` is the grouped-
    layout int spectrum (same layout the decoder reads)."""
    short = window_sequence == EIGHT_SHORT
    swb = SWB_SHORT if short else SWB_LONG
    group_lens = _decode_grouping(grouping) if short else [1]
    w.write(global_gain, 8)
    if not common:
        w.write(0, 1)                    # ics_reserved
        w.write(window_sequence, 2)
        w.write(window_shape, 1)
        if short:
            w.write(max_sfb, 4)
            w.write(grouping, 7)
        else:
            w.write(max_sfb, 6)
            w.write(0, 1)                # predictor_data_present
    # section_data: one run of `codebook` covering all max_sfb bands
    sect_bits = 3 if short else 5
    esc = (1 << sect_bits) - 1
    for _g in group_lens:
        run = max_sfb
        w.write(codebook, 4)
        while run >= esc:
            w.write(esc, sect_bits)
            run -= esc
        w.write(run, sect_bits)
    # scale_factor_data (dpcm from global_gain)
    if codebook != ZERO_HCB:
        sf = global_gain
        for g in range(len(group_lens)):
            for sfb in range(max_sfb):
                tgt = scalefactors[g][sfb] if scalefactors \
                    else global_gain
                _write_hcb(w, HCB_SF, tgt - sf, "sf")
                sf = tgt
    w.write(0, 1)                        # pulse_data_present
    if tns_filters:
        w.write(1, 1)
        for wf in tns_filters:
            w.write(len(wf), 1 if short else 2)
            if wf:
                coef_res = wf[0][4]
                w.write(coef_res, 1)
            for length, order, direction, compress, res, coefs in wf:
                w.write(length, 4 if short else 6)
                w.write(order, 3 if short else 5)
                if order:
                    w.write(direction, 1)
                    w.write(compress, 1)
                    nb = res + 3 - compress
                    for c in coefs:
                        w.write(c & ((1 << nb) - 1), nb)
    else:
        w.write(0, 1)                    # tns_data_present
    w.write(0, 1)                        # gain_control_data_present
    # spectral_data
    if codebook != ZERO_HCB:
        dim, lav, signed = HCB_META[codebook]
        table = HCB[codebook]
        for g, g_len in enumerate(group_lens):
            lo = swb[0] * g_len
            hi = swb[max_sfb] * g_len
            seg = quant[g][lo:hi]
            k = 0
            while k < len(seg):
                vals = [int(v) for v in seg[k:k + dim]]
                if signed:
                    _write_hcb(w, table, tuple(vals), f"cb{codebook}")
                else:
                    mags = []
                    escs = []
                    for v in vals:
                        m = abs(v)
                        if codebook == ESC_HCB and m >= 16:
                            mags.append(16)
                            escs.append(m)
                        else:
                            if m > lav:
                                raise AacError(
                                    f"|{v}| exceeds cb{codebook} LAV")
                            mags.append(m)
                            escs.append(None)
                    _write_hcb(w, table, tuple(mags), f"cb{codebook}")
                    for v, m in zip(vals, mags):
                        if m:
                            w.write(1 if v < 0 else 0, 1)
                    for m in escs:
                        if m is not None:
                            n = m.bit_length() - 1
                            if n < 4 or m >= (1 << 25):
                                raise AacError("escape out of range")
                            # (n−4) leading 1-bits, then a 0, then
                            # the n-bit remainder (MSB first)
                            w.write(((1 << (n - 4)) - 1) << 1,
                                    n - 4 + 1)
                            w.write(m - (1 << n), n)
                k += dim


def aac_bytes(frames, *, rate_index: int = 4, window_sequence: int = 0,
              window_shape: int = 0, max_sfb: int | None = None,
              grouping: int = 0, codebook: int = 1,
              global_gain: int = 100, scalefactors=None,
              ms_mask_present: int = 0, ms_used=None,
              tns_filters=None) -> bytes:
    """Encode ADTS AAC-LC frames for fixtures/tests.

    `frames` = list of frames; each frame = list of per-channel
    grouped-layout quantized spectra (list of per-group int arrays —
    for long windows one (1024,) array, for EIGHT_SHORT one array
    per window group of g_len·128 ints). 1 channel → SCE, 2 → CPE
    with common_window.
    """
    short = window_sequence == EIGHT_SHORT
    if max_sfb is None:
        max_sfb = 14 if short else 40
    out = bytearray()
    for frame in frames:
        # normalize: a bare 1-D spectrum means "one group"
        frame = [[ch] if isinstance(ch, np.ndarray) and ch.ndim == 1
                 else list(ch) for ch in frame]
        nch = len(frame)
        w = MsbWriter()
        if nch == 1:
            w.write(0, 3)                # SCE
            w.write(0, 4)
            _encode_ics(w, frame[0], window_sequence=window_sequence,
                        window_shape=window_shape, max_sfb=max_sfb,
                        grouping=grouping, codebook=codebook,
                        global_gain=global_gain,
                        scalefactors=scalefactors, common=False,
                        tns_filters=tns_filters)
        elif nch == 2:
            w.write(1, 3)                # CPE
            w.write(0, 4)
            w.write(1, 1)                # common_window
            w.write(0, 1)                # ics_reserved
            w.write(window_sequence, 2)
            w.write(window_shape, 1)
            if short:
                w.write(max_sfb, 4)
                w.write(grouping, 7)
            else:
                w.write(max_sfb, 6)
                w.write(0, 1)
            w.write(ms_mask_present, 2)
            if ms_mask_present == 1:
                glens = _decode_grouping(grouping) if short else [1]
                for g in range(len(glens)):
                    for sfb in range(max_sfb):
                        w.write(ms_used[g][sfb] if ms_used else 0, 1)
            for ch in range(2):
                _encode_ics(w, frame[ch],
                            window_sequence=window_sequence,
                            window_shape=window_shape,
                            max_sfb=max_sfb, grouping=grouping,
                            codebook=codebook,
                            global_gain=global_gain,
                            scalefactors=scalefactors, common=True,
                            tns_filters=tns_filters)
        else:
            raise AacError("1 or 2 channels only")
        w.write(7, 3)                    # END
        body = w.bytes()
        frame_length = 7 + len(body)
        h = MsbWriter()
        h.write(0xFFF, 12)               # sync
        h.write(0, 1)                    # MPEG-4
        h.write(0, 2)                    # layer
        h.write(1, 1)                    # protection_absent
        h.write(1, 2)                    # profile: AAC LC
        h.write(rate_index, 4)
        h.write(0, 1)                    # private
        h.write(nch, 3)                  # channel_configuration
        h.write(0, 1)                    # original/copy
        h.write(0, 1)                    # home
        h.write(0, 1)                    # copyright id bit
        h.write(0, 1)                    # copyright id start
        h.write(frame_length, 13)
        h.write(0x7FF, 11)               # buffer fullness: VBR
        h.write(0, 2)                    # raw blocks − 1
        out += h.bytes() + body
    return bytes(out)
