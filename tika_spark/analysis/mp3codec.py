"""From-scratch MPEG-1 Audio Layer III (MP3) sample decoder.

The reference is metadata-only for MP3 (`tika-parsers/.../mp3/
Mp3Parser.java` — header fields, ID3; matched by media.py), so this
module is a pipeline EXTENSION for the multimodal training-data tier:
real crawl audio is overwhelmingly MP3, and an audio-stats /
feature-extraction pass needs decoded samples, not just headers.

Decode chain, per ISO/IEC 11172-3 §2.4 (all stages implemented):

  sync scan → frame header → side info → bit reservoir
  (main_data_begin) → scalefactors (scfsi) → Huffman decode
  (big_values regions + count1 quadruples) → requantization
  (x^(4/3), global_gain, scalefac_scale, preflag/pretab,
  subblock_gain) → short-block reorder → MS stereo → alias-reduction
  butterflies → hybrid IMDCT (36/12-point, block types 0-3) with
  overlap-add → frequency inversion → 32-band polyphase synthesis
  (matrixing + V FIFO + 512-slot windowed sum).

Spec-data provenance (honest notes — everything here is either
public-spec algebra or self-contained table data):

- The algebraic stages (requantization, alias butterflies with
  c = {-0.6 … -0.0037}, IMDCT cos(π/2n·(2i+1+n/2)(2k+1)), block
  windows, synthesis matrixing cos((16+i)(2k+1)π/32), U/W/FIFO
  indexing) follow the published formulas exactly.
- Huffman table 1 and the scalefac_compress slen table are
  transcribed from ISO 11172-3 Table B.7/§2.4.2.7. The other
  big-value tables shipped here (2, 3) and count1 tables A/B use
  the spec's code-LENGTH profiles with canonically assigned code
  words; the ESC family (ids 16/24: 16×16 bodies + linbits 1/4,
  escape value 15 reading extra magnitude bits) ships canonical
  bodies built from a deterministic frequency model with the spec's
  escape SEMANTICS exact. The encoder below shares this one table
  module, so the bitstreams in this repo are self-consistent and
  fully exercised; decoding third-party MP3s bit-exactly only
  requires replacing the table DATA
  (``HUFF_TABLES``/``COUNT1_TABLES``/``LINBITS``), no code changes.
  Table ids outside the shipped set → a clean ``Mp3Error``,
  surfaced as a status row by the pipeline.
- The 512-tap synthesis window (ISO Table B.3) is tabulated spec
  data with no closed form. We ship a documented substitute in the
  same 512-slot machinery: a 64-tap Princen-Bradley sine prototype
  (zero elsewhere), which makes the matrixing+window an EXACT
  time-domain-alias-cancelling transform — reconstruction is exact
  rather than the spec window's near-perfect, which is the stronger
  property for verifying the pipeline. Drop the ISO table into
  ``SYNTH_WINDOW`` for bit-exact interop with spec encoders.

All three MPEG-1 sample rates are carried: the 44.1/48/32 kHz
scalefactor-band geometries of ISO Table B.8 (22 long and 13 short
band intervals each, so every band loop is geometry-independent).

Verification strategy (no external MP3s exist in this environment,
by design): the fixture encoder ``mp3_bytes`` writes genuine
Huffman-coded frames directly from chosen quantized spectra, and
tests check the decoder against independently-computed direct-math
expectations (plain-loop IMDCT/synthesis in the test, vectorized
numpy here), a closed-form silent family (zero spectra stay exactly
zero through the linear filterbank — the ``media_mp3_stats`` DuckDB
oracle), bit-reservoir splits, and MS stereo reconstruction.

Scale contract: identical to FLAC/WAV — per-row CPU work inside
mapInPandas, no shuffle, corrupt payloads become status rows.
"""

from __future__ import annotations

import math

import numpy as np

from tika_spark.analysis.bitio import (MsbReader, MsbWriter, canonical_codes,
                                       huffman_lengths)


class Mp3Error(ValueError):
    pass


# ------------------------------------------------------------ tables

BITRATES_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
               224, 256, 320)           # kbit/s, MPEG-1 Layer III
SAMPLERATES = (44100, 48000, 32000)

# scalefactor band boundaries per sample rate (ISO Table B.8);
# every rate has 22 long and 13 short band intervals, so the band
# loops below are geometry-independent
SFB_LONG_44 = (0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
               110, 134, 162, 196, 238, 288, 342, 418, 576)
SFB_SHORT_44 = (0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136,
                192)
SFB_LONG = {
    44100: SFB_LONG_44,
    48000: (0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88,
            106, 128, 156, 190, 230, 276, 330, 384, 576),
    32000: (0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102,
            126, 156, 194, 240, 296, 364, 448, 550, 576),
}
SFB_SHORT = {
    44100: SFB_SHORT_44,
    48000: (0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192),
    32000: (0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192),
}

# preflag emphasis per long band (bands 0-20)
PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
          1, 1, 1, 1, 2, 2, 3, 3, 3, 2)

# scalefac_compress → (slen1, slen2)  [ISO §2.4.2.7]
SLEN = ((0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2),
        (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3),
        (4, 2), (4, 3))

# alias-reduction coefficients (ISO §2.4.3.4.10.1)
_ALIAS_C = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
            -0.0037)
ALIAS_CS = tuple(1.0 / math.sqrt(1.0 + c * c) for c in _ALIAS_C)
ALIAS_CA = tuple(c / math.sqrt(1.0 + c * c) for c in _ALIAS_C)


def _huffman_from_freqs(freqs: dict) -> dict:
    """Canonical code over Huffman lengths of a deterministic
    synthetic frequency model, for the tables whose spec code words
    are not reproduced (see module docstring)."""
    depth = huffman_lengths(freqs)
    assert max(depth.values()) <= 19, "decoder length cap"
    return canonical_codes(sorted(depth.items()))


def _esc_table() -> dict:
    """16×16 big-value table body for the ESC family (values 15 mean
    escape + linbits). Frequencies fall off as 1/((x+1)(y+1)) — the
    qualitative shape of the spec's large-value tables."""
    return _huffman_from_freqs({
        (x, y): -(-(10_000) // ((x + 1) * (y + 1)))
        for x in range(16) for y in range(16)})


_ESC_BODY = _esc_table()

# big-value pair tables: id → {(|x|,|y|): (code, nbits)}
HUFF_TABLES = {
    # table 0: no data (all-zero region)
    0: {},
    # table 1 (2x2) — spec-verbatim code words
    1: {(0, 0): (0b1, 1), (0, 1): (0b001, 3),
        (1, 0): (0b01, 2), (1, 1): (0b000, 3)},
    # tables 2/3 (3x3) — spec length profiles, canonical words
    2: canonical_codes({(0, 0): 1, (0, 1): 3, (0, 2): 6, (1, 0): 3,
                        (1, 1): 3, (1, 2): 5, (2, 0): 5, (2, 1): 5,
                        (2, 2): 6}.items()),
    3: canonical_codes({(0, 0): 2, (0, 1): 2, (0, 2): 6, (1, 0): 3,
                        (1, 1): 2, (1, 2): 5, (2, 0): 5, (2, 1): 5,
                        (2, 2): 6}.items()),
    # ESC family (spec ids 16/24 structure: 16×16 + linbits) —
    # canonical bodies, drop-in-replaceable data like the rest
    16: _ESC_BODY,
    24: _ESC_BODY,
}

# linbits per ESC table id (spec Table B.7 column): a decoded 15
# reads this many extra magnitude bits
LINBITS = {16: 1, 24: 4}

# count1 quadruple tables: select → {(v,w,x,y): (code, nbits)}
# table-A bit-length profile by 4-bit value vwxy (Kraft-complete)
_C1A_PROFILE = (1, 4, 4, 5, 4, 6, 5, 6, 4, 5, 5, 6, 5, 6, 6, 6)
_C1A_LENS = {
    ((_i >> 3) & 1, (_i >> 2) & 1, (_i >> 1) & 1, _i & 1):
    _C1A_PROFILE[_i] for _i in range(16)}
COUNT1_TABLES = {
    0: canonical_codes(_C1A_LENS.items()),        # "table A" profile
    1: {((i >> 3) & 1, (i >> 2) & 1, (i >> 1) & 1, i & 1):
        (15 - i, 4) for i in range(16)},          # "table B": 4-bit
}

# decoder-side: (code,len) prefix maps inverted once
_DEC_BIG = {tid: {cl: xy for xy, cl in tab.items()}
            for tid, tab in HUFF_TABLES.items()}
_DEC_C1 = {tid: {cl: q for q, cl in tab.items()}
           for tid, tab in COUNT1_TABLES.items()}


def _synth_window() -> np.ndarray:
    """512-slot synthesis window: Princen-Bradley 64-tap sine
    prototype (exact TDAC reconstruction), zero elsewhere. Replace
    with ISO Table B.3 for spec-encoder interop (same machinery)."""
    d = np.zeros(512)
    i = np.arange(64)
    d[:64] = np.sin(math.pi * (i + 0.5) / 64.0) / 32.0
    return d


SYNTH_WINDOW = _synth_window()

# synthesis matrixing N[i,k] = cos((16+i)(2k+1)π/32), i<64, k<32
_N_MAT = np.cos((16 + np.arange(64))[:, None]
                * (2 * np.arange(32) + 1)[None, :] * math.pi / 32.0)

# 36-point IMDCT basis and block windows
_IMDCT36 = np.cos(math.pi / 72.0
                  * (2 * np.arange(36) + 1 + 18)[:, None]
                  * (2 * np.arange(18) + 1)[None, :])
_IMDCT12 = np.cos(math.pi / 24.0
                  * (2 * np.arange(12) + 1 + 6)[:, None]
                  * (2 * np.arange(6) + 1)[None, :])


def _block_windows() -> dict:
    i36 = np.arange(36)
    i12 = np.arange(12)
    w0 = np.sin(math.pi / 36.0 * (i36 + 0.5))
    w1 = w0.copy()                       # start
    w1[18:24] = 1.0
    w1[24:30] = np.sin(math.pi / 12.0 * (i36[24:30] - 18 + 0.5))
    w1[30:] = 0.0
    w3 = w0.copy()                       # stop
    w3[:6] = 0.0
    w3[6:12] = np.sin(math.pi / 12.0 * (i36[6:12] - 6 + 0.5))
    w3[12:18] = 1.0
    w2 = np.sin(math.pi / 12.0 * (i12 + 0.5))   # short
    return {0: w0, 1: w1, 2: w2, 3: w3}


BLOCK_WINDOWS = _block_windows()


# ---------------------------------------------------------- header


def parse_frame_header(data: bytes, pos: int):
    """dict for a valid MPEG-1 Layer III header at ``pos``, else
    None. Fields: bitrate (kbps), samplerate, padding, mode
    ('mono'|'stereo'|'joint'|'dual'), mode_ext, frame_bytes."""
    if pos + 4 > len(data):
        return None
    h = int.from_bytes(data[pos:pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    if (h >> 19) & 3 != 3 or (h >> 17) & 3 != 1:   # MPEG-1, Layer III
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    bitrate = BITRATES_L3[br_idx]
    rate = SAMPLERATES[sr_idx]
    padding = (h >> 9) & 1
    mode = ("stereo", "joint", "dual", "mono")[(h >> 6) & 3]
    return {
        "bitrate": bitrate, "samplerate": rate, "padding": padding,
        "protection": not ((h >> 16) & 1), "mode": mode,
        "mode_ext": (h >> 4) & 3, "nch": 1 if mode == "mono" else 2,
        "frame_bytes": 144 * bitrate * 1000 // rate + padding,
    }


def _parse_side_info(data: bytes, nch: int) -> dict:
    b = MsbReader(data)
    si = {"main_data_begin": b.read(9)}
    b.read(5 if nch == 1 else 3)                   # private bits
    si["scfsi"] = [[b.read(1) for _ in range(4)] for _ in range(nch)]
    grs = []
    for _gr in range(2):
        chs = []
        for _ch in range(nch):
            g = {"part2_3_length": b.read(12),
                 "big_values": b.read(9),
                 "global_gain": b.read(8),
                 "scalefac_compress": b.read(4)}
            if b.read(1):                          # window switching
                g["block_type"] = b.read(2)
                g["mixed_block_flag"] = b.read(1)
                g["table_select"] = [b.read(5), b.read(5), 0]
                g["subblock_gain"] = [b.read(3) for _ in range(3)]
                if g["block_type"] == 0:
                    raise Mp3Error("forbidden block_type 0 with "
                                   "window switching")
                g["region0_count"] = (8 if g["block_type"] == 2
                                      and not g["mixed_block_flag"]
                                      else 7)
                g["region1_count"] = 20 - g["region0_count"]
            else:
                g["block_type"] = 0
                g["mixed_block_flag"] = 0
                g["table_select"] = [b.read(5), b.read(5), b.read(5)]
                g["subblock_gain"] = [0, 0, 0]
                g["region0_count"] = b.read(4)
                g["region1_count"] = b.read(3)
            g["preflag"] = b.read(1)
            g["scalefac_scale"] = b.read(1)
            g["count1table_select"] = b.read(1)
            chs.append(g)
        grs.append(chs)
    si["granules"] = grs
    return si


# ------------------------------------------------------- main data


def _read_scalefactors(b: MsbReader, g: dict, gr: int, scfsi: list,
                       prev: list | None) -> tuple[list, int]:
    """(scalefactors, part2_bits). Long: 21 values (+0 for band 21);
    short: 12 bands × 3 windows. scfsi only applies to granule 1
    long blocks (spec) — shared bands copy granule 0's values."""
    slen1, slen2 = SLEN[g["scalefac_compress"]]
    bits = 0
    if g["block_type"] == 2 and not g["mixed_block_flag"]:
        sf = []
        for band in range(12):
            sl = slen1 if band < 6 else slen2
            sf.append([b.read(sl) for _ in range(3)])
            bits += 3 * sl
        return sf, bits
    groups = ((0, 6), (6, 11), (11, 16), (16, 21))
    sf = [0] * 21
    for gi, (lo, hi) in enumerate(groups):
        sl = slen1 if hi <= 11 else slen2
        if gr == 1 and scfsi[gi] and prev is not None:
            for band in range(lo, hi):
                sf[band] = prev[band]
        else:
            for band in range(lo, hi):
                sf[band] = b.read(sl)
                bits += sl
    return sf, bits


def _huffman_pair(b: MsbReader, table_id: int, counter: list) -> tuple:
    dec = _DEC_BIG.get(table_id)
    if dec is None:
        raise Mp3Error(f"huffman table {table_id} unsupported "
                       "(remaining spec tables are data additions)")
    if not dec:
        return 0, 0
    lb = LINBITS.get(table_id, 0)
    code, ln = 0, 0
    while True:
        code = (code << 1) | b.read(1)
        ln += 1
        counter[0] += 1
        xy = dec.get((code, ln))
        if xy is not None:
            x, y = xy
            if x == 15 and lb:          # ESC: extra magnitude bits
                x += b.read(lb)
                counter[0] += lb
            if x:
                if b.read(1):
                    x = -x
                counter[0] += 1
            if y == 15 and lb:
                y += b.read(lb)
                counter[0] += lb
            if y:
                if b.read(1):
                    y = -y
                counter[0] += 1
            return x, y
        if ln > 19:
            raise Mp3Error("bad huffman code")


def _huffman_quad(b: MsbReader, table_id: int, counter: list) -> tuple:
    dec = _DEC_C1[table_id]
    code, ln = 0, 0
    while True:
        code = (code << 1) | b.read(1)
        ln += 1
        counter[0] += 1
        q = dec.get((code, ln))
        if q is not None:
            out = []
            for v in q:
                if v and b.read(1):
                    out.append(-v)
                    counter[0] += 1
                elif v:
                    out.append(v)
                    counter[0] += 1
                else:
                    out.append(0)
            return tuple(out)
        if ln > 7:
            raise Mp3Error("bad count1 code")


def _region_bounds(g: dict, rate: int = 44100) -> tuple[int, int]:
    sfb = SFB_LONG[rate]
    r0 = min(g["region0_count"] + 1, len(sfb) - 1)
    r1 = min(g["region0_count"] + g["region1_count"] + 2,
             len(sfb) - 1)
    return sfb[r0], sfb[r1]


def _read_spectra(b: MsbReader, g: dict, part2_bits: int,
                  rate: int = 44100) -> np.ndarray:
    """576 Huffman-decoded quantized values for one granule/channel,
    consuming exactly part2_3_length - part2_bits bits (stuffing
    skipped)."""
    budget = g["part2_3_length"] - part2_bits
    if budget < 0:
        raise Mp3Error("part2_3_length smaller than scalefactors")
    xs = np.zeros(576, dtype=np.int64)
    used = [0]
    bound0, bound1 = _region_bounds(g, rate)
    if g["block_type"] == 2:
        bound0, bound1 = 36, 576
    pos = 0
    for _pair in range(g["big_values"]):
        if pos >= 576:
            raise Mp3Error("big_values overflow")
        region = 0 if pos < bound0 else (1 if pos < bound1 else 2)
        x, y = _huffman_pair(b, g["table_select"][region], used)
        xs[pos] = x
        xs[pos + 1] = y
        pos += 2
    while used[0] < budget and pos + 4 <= 576:
        before = used[0]
        q = _huffman_quad(b, g["count1table_select"], used)
        if used[0] > budget:        # ran past: spec says discard
            used[0] = before
            break
        xs[pos:pos + 4] = q
        pos += 4
    while used[0] < budget:          # stuffing bits
        b.read(1)
        used[0] += 1
    return xs


# ----------------------------------------------------- requantize


def _requantize(xs: np.ndarray, g: dict, sf: list,
                rate: int = 44100) -> np.ndarray:
    sfb_long, sfb_short = SFB_LONG[rate], SFB_SHORT[rate]
    gain = 2.0 ** ((g["global_gain"] - 210) / 4.0)
    mult = 0.5 * (g["scalefac_scale"] + 1)
    mag = np.abs(xs).astype(np.float64) ** (4.0 / 3.0) * np.sign(xs)
    out = np.zeros(576)
    if g["block_type"] == 2 and not g["mixed_block_flag"]:
        # short: values laid out [band][window][line]
        pos = 0
        for band in range(len(sfb_short) - 1):
            width = sfb_short[band + 1] - sfb_short[band]
            for w in range(3):
                sfv = sf[band][w] if band < 12 else 0
                sb_gain = 2.0 ** (-2.0 * g["subblock_gain"][w])
                fac = gain * sb_gain * 2.0 ** (-mult * sfv)
                out[pos:pos + width] = mag[pos:pos + width] * fac
                pos += width
        return out
    for band in range(len(sfb_long) - 1):
        lo, hi = sfb_long[band], sfb_long[band + 1]
        sfv = sf[band] if band < 21 else 0
        pre = PRETAB[band] if (g["preflag"] and band < 21) else 0
        fac = gain * 2.0 ** (-mult * (sfv + pre))
        out[lo:hi] = mag[lo:hi] * fac
    return out


def _reorder_short(x: np.ndarray, rate: int = 44100) -> np.ndarray:
    """Short-block reorder: [band][window][line] → per-window
    sequential within each 18-line subband triple (ISO
    §2.4.3.4.10.3): after reorder line l of window w of band b sits
    at subband-interleaved position."""
    out = np.zeros(576)
    sfb_short = SFB_SHORT[rate]
    for band in range(len(sfb_short) - 1):
        lo, hi = sfb_short[band], sfb_short[band + 1]
        width = hi - lo
        src = 3 * lo
        for w in range(3):
            for line in range(width):
                out[3 * (lo + line) + w] = x[src]
                src += 1
    return out


def _alias_reduce(x: np.ndarray) -> np.ndarray:
    out = x.copy()
    for sb in range(1, 32):
        base = 18 * sb
        for i in range(8):
            a = out[base - 1 - i]
            c = out[base + i]
            out[base - 1 - i] = a * ALIAS_CS[i] - c * ALIAS_CA[i]
            out[base + i] = c * ALIAS_CS[i] + a * ALIAS_CA[i]
    return out


def _imdct_granule(x: np.ndarray, block_type: int,
                   overlap: np.ndarray) -> np.ndarray:
    """Hybrid filterbank for one granule/channel: 576 spectra →
    18×32 time samples; ``overlap`` (32×18) carries the second
    window halves across granules (mutated in place)."""
    out = np.zeros((18, 32))
    for sb in range(32):
        spec = x[18 * sb:18 * (sb + 1)]
        if block_type == 2:
            z = np.zeros(36)
            for w in range(3):
                xw = _IMDCT12 @ spec[w::3]        # 12-point
                z[6 + 6 * w:18 + 6 * w] += xw * BLOCK_WINDOWS[2]
        else:
            z = (_IMDCT36 @ spec) * BLOCK_WINDOWS[block_type]
        out[:, sb] = z[:18] + overlap[sb]
        overlap[sb] = z[18:]
    # frequency inversion: odd time samples of odd subbands
    out[1::2, 1::2] *= -1.0
    return out


# window coefficients rearranged by V-lag: _DM[m] holds the slice of
# SYNTH_WINDOW that multiplies V_{t-m} (even lags feed U positions
# 0-31, odd lags 32-63 — the spec's U-buffer indexing flattened)
_DM = np.zeros((16, 64))
for _i in range(8):
    _DM[2 * _i, :32] = SYNTH_WINDOW[_i * 64:_i * 64 + 32]
    _DM[2 * _i + 1, 32:] = SYNTH_WINDOW[_i * 64 + 32:_i * 64 + 64]


class _Synth:
    """32-band polyphase synthesis: matrixing V(64) per time step,
    16-deep V history, windowed U/W sum → 32 PCM samples (ISO
    §2.4.3.2 semantics). Vectorized per GRANULE: all 18 steps'
    matrixing is one matmul and the FIFO/window sum one
    sliding-window einsum over the V-lag axis — the per-step
    np.roll loop was the decode hotspot at corpus rates."""

    def __init__(self):
        self.hist = np.zeros((15, 64))     # V_{t-15} … V_{t-1}

    def run(self, s: np.ndarray) -> np.ndarray:
        """(18, 32) subband samples → (576,) PCM floats."""
        from numpy.lib.stride_tricks import sliding_window_view
        v_new = s @ _N_MAT.T               # (18, 64)
        vext = np.vstack([self.hist, v_new])
        win = sliding_window_view(vext, 16, axis=0)   # (18, 64, 16)
        # win[k, c, 15-m] = V_{t0+k-m}[c]; sum over lags m
        contrib = np.einsum("kcm,mc->kc", win[:, :, ::-1], _DM)
        self.hist = vext[-15:].copy()
        return (contrib[:, :32] + contrib[:, 32:]).reshape(-1)


def decode_mp3(data: bytes) -> tuple[np.ndarray, int]:
    """(samples int16 [n, nch], sample_rate). Full Layer III decode
    of every valid frame at any MPEG-1 rate (44.1/48/32 kHz Table
    B.8 geometries); ID3v2 prefix skipped."""
    data = bytes(data or b"")
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
            | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
        pos = 10 + size
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
        side_len = 17 if nch == 1 else 32
        frames.append((hdr, data[body:body + side_len],
                       data[body + side_len:end]))
        pos = end
    if not frames:
        raise Mp3Error("no MPEG-1 Layer III frames")

    reservoir = b""
    overlap = [np.zeros((32, 18)) for _ in range(nch)]
    synth = [_Synth() for _ in range(nch)]
    pcm = []
    for hdr, side_bytes, main_part in frames:
        si = _parse_side_info(side_bytes, nch)
        mdb = si["main_data_begin"]
        if mdb > len(reservoir):
            raise Mp3Error("bit reservoir underrun")
        main = (reservoir[len(reservoir) - mdb:] if mdb else b"") \
            + main_part
        reservoir = (reservoir + main_part)[-511:]
        b = MsbReader(main)
        prev_sf = [None] * nch
        for gr in range(2):
            chans = []
            for ch in range(nch):
                g = si["granules"][gr][ch]
                sf, p2 = _read_scalefactors(
                    b, g, gr, si["scfsi"][ch], prev_sf[ch])
                if gr == 0 and g["block_type"] != 2:
                    prev_sf[ch] = sf
                xs = _read_spectra(b, g, p2, rate)
                x = _requantize(xs, g, sf, rate)
                if g["block_type"] == 2 and not g["mixed_block_flag"]:
                    x = _reorder_short(x, rate)
                chans.append((g, x))
            if nch == 2 and hdr["mode"] == "joint" \
                    and hdr["mode_ext"] & 2:      # MS stereo
                m, s = chans[0][1], chans[1][1]
                r2 = math.sqrt(2.0)
                chans = [(chans[0][0], (m + s) / r2),
                         (chans[1][0], (m - s) / r2)]
            block = np.zeros((18 * 32, nch))
            for ch, (g, x) in enumerate(chans):
                if g["block_type"] != 2:
                    x = _alias_reduce(x)
                t = _imdct_granule(x, g["block_type"], overlap[ch])
                block[:, ch] = synth[ch].run(t)
            pcm.append(block)
    out = np.concatenate(pcm, axis=0)
    out = np.clip(np.rint(out * 32768.0), -32768, 32767)
    return out.astype(np.int16), rate


# ------------------------------------------------------------ encoder
#
# Fixture-tier encoder: writes genuine Layer III bitstreams directly
# from chosen quantized spectra (no psychoacoustics, no analysis
# filterbank — the point is to exercise every DECODER stage with
# known inputs). Shares the table module above.


_SCFSI_GROUPS = ((0, 6), (6, 11), (11, 16), (16, 21))


def _write_scalefactors(w: MsbWriter, g: dict, sf: list,
                        skip_groups=()) -> int:
    slen1, slen2 = SLEN[g["scalefac_compress"]]
    bits = 0
    if g["block_type"] == 2:
        for band in range(12):
            sl = slen1 if band < 6 else slen2
            for win in range(3):
                w.write(sf[band][win], sl)
            bits += 3 * sl
        return bits
    for gi, (lo, hi) in enumerate(_SCFSI_GROUPS):
        if gi in skip_groups:
            continue            # scfsi: granule 1 reuses granule 0
        sl = slen1 if hi <= 11 else slen2
        for band in range(lo, hi):
            w.write(sf[band], sl)
            bits += sl
    return bits


def _encode_spectra(w: MsbWriter, g: dict, xs,
                    rate: int = 44100) -> int:
    """Huffman-code one granule's 576 quantized values; returns bit
    count. Caller guarantees |x| fits the selected tables."""
    bits = 0
    bound0, bound1 = _region_bounds(g, rate)
    if g["block_type"] == 2:
        bound0, bound1 = 36, 576
    for pair in range(g["big_values"]):
        pos = 2 * pair
        region = 0 if pos < bound0 else (1 if pos < bound1 else 2)
        tab = HUFF_TABLES[g["table_select"][region]]
        x, y = int(xs[pos]), int(xs[pos + 1])
        if not tab:                  # table 0: zero region, no code
            if x or y:
                raise ValueError(
                    "nonzero pair in a table-0 region (spectra must "
                    "stay inside the region0 boundary, line 162)")
            continue
        tid = g["table_select"][region]
        lb = LINBITS.get(tid, 0)
        cx, cy = min(abs(x), 15), min(abs(y), 15)
        if (abs(x) > 15 + (2 ** lb - 1)) or (abs(y) > 15 + (2 ** lb - 1)):
            raise ValueError("|spectra| exceeds table range")
        code, ln = tab[(cx, cy)]
        w.write(code, ln)
        bits += ln
        if cx == 15 and lb:
            w.write(abs(x) - 15, lb)
            bits += lb
        if x:
            w.write(1 if x < 0 else 0, 1)
            bits += 1
        if cy == 15 and lb:
            w.write(abs(y) - 15, lb)
            bits += lb
        if y:
            w.write(1 if y < 0 else 0, 1)
            bits += 1
    pos = 2 * g["big_values"]
    while pos + 4 <= 576:
        quad = tuple(int(v) for v in xs[pos:pos + 4])
        if not any(quad):
            n_rest = int(np.count_nonzero(xs[pos:]))
            if n_rest == 0:
                break
        tab = COUNT1_TABLES[g["count1table_select"]]
        code, ln = tab[tuple(abs(v) for v in quad)]
        w.write(code, ln)
        bits += ln
        for v in quad:
            if v:
                w.write(1 if v < 0 else 0, 1)
                bits += 1
        pos += 4
    return bits


def mp3_bytes(frames_spectra, rate: int = 44100, mode: str = "mono",
              bitrate: int = 128, global_gain: int = 210,
              scalefactors=None, scalefac_compress: int = 0,
              count1_zeros: int = 0, mode_ext: int = 0,
              block_type: int = 0, subblock_gain=(0, 0, 0),
              preflag: int = 0, scalefac_scale: int = 0,
              count1table: int = 0,
              scfsi=(0, 0, 0, 0)) -> bytes:
    """Genuine Layer III bitstream from quantized spectra.

    ``frames_spectra``: list of frames; each frame is [granule0,
    granule1]; each granule is one 576-int array per channel (values
    within the shipped tables' range, |x| <= 2). main_data_begin=0
    (each frame self-contained — tests splice reservoirs
    explicitly); count1_zeros appends that many all-zero quadruple
    codes after the data (genuine Huffman work on silent fixtures).
    ``block_type`` 2 writes window-switching side info (short
    blocks, scalefactors then shaped [12][3], spectra in the
    [band][window][line] wire order). ``scfsi`` (4 group flags,
    applied to every channel, long blocks only) shares the flagged
    scalefactor groups between granules — granule 1 omits them and
    the decoder must reuse granule 0's values.
    """
    nch = 1 if mode == "mono" else 2
    sr_idx = SAMPLERATES.index(rate)
    br_idx = BITRATES_L3.index(bitrate)
    if block_type not in (0, 2):
        raise ValueError("encoder writes block_type 0 or 2")
    if any(scfsi) and block_type == 2:
        raise ValueError("scfsi applies to long blocks only")
    out = bytearray()
    for frame in frames_spectra:
        # ---- per-granule metadata + main data
        main = MsbWriter()
        g_list = []
        for gr in range(2):
            for ch in range(nch):
                xs = np.asarray(frame[gr][ch], dtype=np.int64)
                if xs.shape != (576,):
                    raise ValueError("each granule needs 576 values")
                nz = np.nonzero(xs)[0]
                extent = (int(nz[-1]) + 1 if len(nz) else 0)
                big_values = (extent + 1) // 2
                if big_values > 288:
                    raise ValueError("spectra extent too wide")
                if len(nz) and int(np.abs(xs).max()) > 30:
                    raise ValueError("|spectra| > 30 exceeds the "
                                     "shipped table range")
                g = {"block_type": block_type,
                     "mixed_block_flag": 0,
                     "big_values": big_values,
                     "global_gain": global_gain,
                     "scalefac_compress": scalefac_compress,
                     "subblock_gain": list(subblock_gain),
                     "preflag": preflag,
                     "scalefac_scale": scalefac_scale,
                     "count1table_select": count1table}
                if block_type == 2:
                    g["region0_count"] = 8
                    g["region1_count"] = 12
                else:
                    g["region0_count"] = 15
                    g["region1_count"] = 0
                # per-region table: smallest shipped table covering
                # the region max (0 empty / 1 / 2 / ESC 16 / ESC 24)
                bound0, bound1 = _region_bounds(g, rate)
                if block_type == 2:
                    bound0, bound1 = 36, 576
                sel = []
                for lo, hi in ((0, bound0), (bound0, bound1),
                               (bound1, 576)):
                    lo, hi = min(lo, extent), min(hi, extent)
                    mx = (int(np.abs(xs[lo:hi]).max())
                          if hi > lo else 0)
                    sel.append(0 if mx == 0 else
                               1 if mx == 1 else
                               2 if mx == 2 else
                               16 if mx <= 16 else 24)
                g["table_select"] = sel
                sf = scalefactors
                if sf is None:
                    sf = ([[0] * 3 for _ in range(12)]
                          if block_type == 2 else [0] * 21)
                skip = (tuple(i for i, s in enumerate(scfsi) if s)
                        if gr == 1 else ())
                p2 = _write_scalefactors(main, g, sf, skip)
                p3 = _encode_spectra(main, g, xs, rate)
                if big_values == 0:
                    tabA = COUNT1_TABLES[count1table]
                    code, ln = tabA[(0, 0, 0, 0)]
                    for _ in range(min(count1_zeros, 144)):
                        main.write(code, ln)
                        p3 += ln
                g["part2_3_length"] = p2 + p3
                g["sf"] = sf
                g_list.append(g)
        main_bytes = main.bytes()

        # ---- side info
        side = MsbWriter()
        side.write(0, 9)                           # main_data_begin
        side.write(0, 5 if nch == 1 else 3)
        for _ch in range(nch):
            for s in scfsi:
                side.write(1 if s else 0, 1)
        for g in g_list:
            side.write(g["part2_3_length"], 12)
            side.write(g["big_values"], 9)
            side.write(g["global_gain"], 8)
            side.write(g["scalefac_compress"], 4)
            if g["block_type"] == 2:
                side.write(1, 1)                   # window switching
                side.write(2, 2)                   # block_type
                side.write(0, 1)                   # not mixed
                for t in g["table_select"][:2]:
                    side.write(t, 5)
                for sg in g["subblock_gain"]:
                    side.write(sg, 3)
            else:
                side.write(0, 1)                   # no window switch
                for t in g["table_select"]:
                    side.write(t, 5)
                side.write(g["region0_count"], 4)
                side.write(g["region1_count"], 3)
            side.write(g["preflag"], 1)
            side.write(g["scalefac_scale"], 1)
            side.write(g["count1table_select"], 1)
        side_bytes = side.bytes()
        assert len(side_bytes) == (17 if nch == 1 else 32)

        frame_len = 144 * bitrate * 1000 // rate
        payload = len(side_bytes) + len(main_bytes)
        if payload + 4 > frame_len:
            raise ValueError("spectra too dense for bitrate")
        mode_bits = {"stereo": 0, "joint": 1, "dual": 2,
                     "mono": 3}[mode]
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
            | (br_idx << 12) | (sr_idx << 10) | (0 << 9) \
            | (mode_bits << 6) | (mode_ext << 4)
        out += h.to_bytes(4, "big")
        out += side_bytes + main_bytes
        out += b"\x00" * (frame_len - 4 - payload)
    return bytes(out)
