"""Brotli codec (analysis/brotlicodec.py) + WOFF2 container
(analysis/woff2.py): prefix-code forms, round-trips in all encoder
modes, inflate guard, dictionary-drop error, base128, WOFF2
parse/build and the media.py font-metadata surface."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_spark.analysis import brotlicodec as br
from tika_spark.analysis import woff2
from tika_spark.analysis.bitio import LsbReader, LsbWriter, canonical_codes


class TestBits:
    def test_lsb_first(self):
        w = LsbWriter()
        w.write(0b101, 3)
        w.write(0b01, 2)
        w.write(0xAB, 8)
        data = w.bytes()
        r = LsbReader(data)
        assert r.read(3) == 0b101
        assert r.read(2) == 0b01
        assert r.read(8) == 0xAB

    def test_truncation(self):
        with pytest.raises(ValueError):
            LsbReader(b"\x01").read(16)


class TestPrefixCodes:
    @given(st.dictionaries(st.integers(0, 255), st.integers(1, 500),
                           min_size=1, max_size=60))
    @settings(max_examples=60, deadline=None)
    def test_emit_read_roundtrip(self, freqs):
        lens = br._huffman_lengths(freqs)
        w = LsbWriter()
        br._emit_prefix_code(w, lens, 256)
        # pad so the reader never hits EOF mid-walk
        code = br._read_prefix_code(LsbReader(w.bytes() + b"\x00" * 8),
                                    256)
        # decode every symbol's canonical code through the reader
        codes = canonical_codes(sorted(lens.items()))
        if len(lens) == 1:
            (only,) = lens
            assert code.single == only
            return
        for sym, (cw, ln) in codes.items():
            w2 = LsbWriter()
            w2.write_code(cw, ln)
            assert code.read(LsbReader(w2.bytes() + b"\x00" * 4)) == sym

    def test_kraft_violation_rejected(self):
        # over-subscribed, then incomplete, code-length codes
        for clc in ({1: 2, 2: 2, 3: 2, 4: 1}, {1: 2, 2: 2}):
            w = LsbWriter()
            w.write(0, 2)                            # HSKIP = 0
            for slot in br.CLC_ORDER:
                br._write_clc_len(w, clc.get(slot, 0))
            with pytest.raises(ValueError):
                br._read_prefix_code(LsbReader(w.bytes() + b"\x00" * 8),
                                     256)


class TestRoundTrip:
    CASES = [
        b"",
        b"x",
        b"hello world hello world hello world",
        bytes(range(256)) * 4,
        b"aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
        b"The quick brown fox jumps over the lazy dog. " * 64,
    ]

    @pytest.mark.parametrize("mode", ["raw", "literals", "lz"])
    def test_cases(self, mode):
        for t in self.CASES:
            assert br.decompress(br.compress(t, mode=mode)) == t

    @given(st.binary(min_size=0, max_size=4000),
           st.sampled_from(["raw", "literals", "lz"]))
    @settings(max_examples=80, deadline=None)
    def test_random(self, data, mode):
        assert br.decompress(br.compress(data, mode=mode)) == data

    def test_lz_actually_compresses(self):
        t = b"spark and tika and spark and tika and spark. " * 200
        enc = br.compress(t, mode="lz")
        assert len(enc) < len(t) // 10

    def test_max_out_guard(self):
        t = b"z" * 100_000
        enc = br.compress(t, mode="lz")
        with pytest.raises(ValueError, match="max_out"):
            br.decompress(enc, max_out=50_000)

    def test_dictionary_reference_raises(self):
        # a distance beyond produced output = static dictionary ref
        w = LsbWriter()
        w.write(0, 1)            # wbits 16
        w.write(1, 1)            # ISLAST
        w.write(0, 1)            # not empty
        w.write(0, 2)            # MNIBBLES=4
        w.write(9, 16)           # MLEN=10
        for _ in range(3):
            w.write(0, 1)        # NBLTYPES 1/1/1
        w.write(0, 2)            # NPOSTFIX
        w.write(0, 4)            # NDIRECT
        w.write(0, 2)            # context mode
        w.write(0, 1)            # NTREESL=1
        w.write(0, 1)            # NTREESD=1
        # literal code: single symbol 'q'
        w.write(1, 2)
        w.write(0, 2)
        w.write(ord("q"), 8)
        # command code: single symbol insert=2 copy-code 0 explicit
        sym = br._cmd_symbol(2, 0, implicit=False)
        w.write(1, 2)
        w.write(0, 2)
        w.write(sym, 10)
        # distance code: single symbol 17 (alphabet 64 -> 6 bits)
        w.write(1, 2)
        w.write(0, 2)
        w.write(17, 6)
        # body: insert 2 literals, then copy at distance 4 > output 2
        w.write(1, 1)            # distance extra bit -> dist 3+1=4
        with pytest.raises(ValueError, match="dictionary"):
            br.decompress(w.bytes() + b"\x00\x00")

    @given(st.integers(0, 2 ** 32 - 1))
    @settings(max_examples=120, deadline=None)
    def test_fuzz_never_hangs(self, seed):
        rng = np.random.RandomState(seed % (2 ** 31))
        base = br.compress(bytes(rng.randint(0, 256, 300,
                                             dtype=np.uint8).tobytes()),
                           mode=("raw", "literals", "lz")[seed % 3])
        buf = bytearray(base)
        if seed % 2 and len(buf) > 2:
            buf = buf[:rng.randint(1, len(buf))]
        for _ in range(rng.randint(1, 5)):
            buf[rng.randint(0, len(buf))] ^= int(rng.randint(1, 256))
        try:
            out = br.decompress(bytes(buf), max_out=1 << 22)
            assert isinstance(out, bytes)
        except ValueError:
            pass


def _name_table(recs):
    strings = b""
    out = b""
    for nid, val in recs:
        enc = val.encode("utf-16-be")
        out += struct.pack(">HHHHHH", 3, 1, 0x409, nid,
                           len(enc), len(strings))
        strings += enc
    return struct.pack(">HHH", 0, len(recs),
                       6 + 12 * len(recs)) + out + strings


class TestWoff2:
    def test_base128(self):
        for v in (0, 1, 127, 128, 300, 0xFFFF, 0xFFFFFFFF):
            enc = woff2.write_base128(v)
            got, pos = woff2.read_base128(enc, 0)
            assert got == v and pos == len(enc)
        with pytest.raises(ValueError):
            woff2.read_base128(b"\x80\x01", 0)  # leading zero byte

    @pytest.mark.parametrize("mode", ["raw", "literals", "lz"])
    def test_build_parse(self, mode):
        tbl = _name_table([(1, "Family A"), (4, "Family A Bold")])
        raw = woff2.woff2_bytes(
            [("head", b"\x00" * 54), ("name", tbl),
             ("glyf", b"\x01\x02" * 32), ("Xxxx", b"custom")],
            mode=mode)
        parsed = woff2.parse_woff2(raw)
        assert [t[0] for t in parsed["tables"]] == [
            "head", "name", "glyf", "Xxxx"]
        assert woff2.woff2_table(parsed, "name") == tbl
        assert woff2.woff2_table(parsed, "Xxxx") == b"custom"
        assert woff2.woff2_name_table(raw) == tbl

    def test_media_meta_surface(self):
        from tika_spark.media import _woff2_meta
        tbl = _name_table([(1, "Fam Z"), (4, "Fam Z Regular")])
        raw = woff2.woff2_bytes([("name", tbl)])
        meta = _woff2_meta(raw)
        assert meta["font-family"] == ["Fam Z"]
        assert meta["title"] == ["Fam Z Regular"]

    def test_garbage_rejected(self):
        with pytest.raises(ValueError):
            woff2.parse_woff2(b"wOF2" + b"\x00" * 10)
        with pytest.raises(ValueError):
            woff2.parse_woff2(b"not a font at all")


class TestBlockSwitching:
    @given(st.binary(min_size=1, max_size=3000), st.integers(9, 200))
    @settings(max_examples=60, deadline=None)
    def test_two_type_roundtrip(self, data, seg):
        enc = br.compress_blocks(data, seg=seg)
        assert br.decompress(enc) == data

    def test_trees_differ(self):
        # alternating segments with disjoint alphabets: the stream
        # only decodes if block switching selects the right tree
        t = (b"\x01" * 64 + b"\xfe" * 64) * 20
        enc = br.compress_blocks(t, seg=64)
        assert br.decompress(enc) == t

    @given(st.binary(min_size=1, max_size=3000))
    @settings(max_examples=60, deadline=None)
    def test_context_keyed_trees(self, data):
        # MSB6 context mode with a context-keyed map: tree choice
        # depends on the previous byte, not the block type
        assert br.decompress(br.compress_ctx(data)) == data

    def test_ring_and_implicit_distances(self):
        # periodic data -> several same-distance copies: the encoder
        # must emit implicit-zone commands / distance symbol 0 and
        # the decoder's ring buffer must track them
        t = b"abcdefgh" * 2000
        cmds = br._greedy_lz(t)
        last = None
        implicit = ring0 = 0
        for ins, lits, cop, dist in cmds:
            if cop == 0:
                continue
            _, dsym, _ = br._command_symbol_for(ins, cop, dist, last)
            if dsym is None:
                implicit += 1
            elif dsym[0] == 0:
                ring0 += 1
            last = dist
        assert implicit + ring0 >= 2
        assert br.decompress(br.compress(t, mode="lz")) == t

    def test_metadata_metablock_skipped(self):
        # hand-build: metadata meta-block (MNIBBLES=0) skipping 3
        # bytes, then an uncompressed block, then last-empty
        w = LsbWriter()
        w.write(0, 1)        # wbits 16
        w.write(0, 1)        # not last
        w.write(3, 2)        # MNIBBLES code 3 -> metadata
        w.write(0, 1)        # reserved
        w.write(1, 2)        # MSKIPBYTES = 1
        w.write(2, 8)        # skip = 2 + 1 = 3
        w.align()
        w.raw(b"\xde\xad\xbf")
        w.write(0, 1)        # not last
        w.write(0, 2)        # MNIBBLES = 4
        w.write(4, 16)       # MLEN = 5
        w.write(1, 1)        # uncompressed
        w.align()
        w.raw(b"hello")
        w.write(1, 1)
        w.write(1, 1)        # last, empty
        assert br.decompress(w.bytes()) == b"hello"

    def test_implicit_distance_zone(self):
        # cmd < 128: the decoder must take ring[0] WITHOUT reading a
        # distance symbol. Stream: insert "ab", copy 4 @ dist 2
        # (explicit), then an implicit-zone command copying 4 more.
        w = LsbWriter()
        w.write(0, 1)        # wbits
        w.write(1, 1)        # ISLAST
        w.write(0, 1)        # not empty
        w.write(0, 2)        # MNIBBLES=4
        w.write(9, 16)       # MLEN = 10
        for _ in range(3):
            w.write(0, 1)    # one block type each
        w.write(0, 2)        # NPOSTFIX
        w.write(0, 4)        # NDIRECT
        w.write(0, 2)        # context mode
        w.write(0, 1)        # NTREESL=1
        w.write(0, 1)        # NTREESD=1
        # literal code: simple 2-symbol {a, b}
        w.write(1, 2)
        w.write(1, 2)
        w.write(ord("a"), 8)
        w.write(ord("b"), 8)
        # command code: 2 symbols — explicit (ins 2, copy 4) and
        # implicit (ins 0, copy 4)
        c_exp = br._cmd_symbol(2, 2, implicit=False)   # ins 2, cop 4
        c_imp = br._cmd_symbol(0, 2, implicit=True)    # ins 0, cop 4
        lo, hi = sorted((c_exp, c_imp))
        w.write(1, 2)
        w.write(1, 2)
        w.write(lo, 10)
        w.write(hi, 10)
        # distance code: single symbol 16 (dcode 0: nbits 1, off 0)
        w.write(1, 2)
        w.write(0, 2)
        w.write(16, 6)
        # body: explicit command (canonical 1-bit codes by symbol)
        w.write(0 if c_exp == lo else 1, 1)
        w.write(0, 1)        # literal 'a'
        w.write(1, 1)        # literal 'b'
        w.write(1, 1)        # distance extra bit -> dist 2
        # implicit command: no distance read
        w.write(0 if c_imp == lo else 1, 1)
        assert br.decompress(w.bytes() + b"\x00\x00") == b"ababababab"


class TestStaticDictionary:
    """Round-5 close of the documented drop: the RFC 7932 Appendix A
    dictionary + section 8 transforms + section 7.1 context LUTs,
    extracted from the public brotli implementation and pinned here.
    Semantics facts below were established against the reference
    decoder with crafted streams (dictionary distances never enter
    the ring; the virgin ring reads 4, 11, 15, 16 for codes 0-3)."""

    def test_dictionary_data_shape(self):
        from tika_spark.analysis.brotlicodec import (_DICT_NDBITS,
                                                     _DICT_OFFSETS,
                                                     _static_dictionary)
        blob = _static_dictionary()
        assert len(blob) == 122_784
        assert blob[:20] == b"timedownlifeleftback"
        assert blob[4096:4106] == b"firstvideo"
        # len-4 word 17 is "year", len-9 word 169 is "the world"
        assert blob[17 * 4:18 * 4] == b"year"
        off9 = _DICT_OFFSETS[9 - 4]
        assert blob[off9 + 169 * 9:off9 + 170 * 9] == b"the world"
        assert len(_DICT_NDBITS) == 21

    def test_transform_table(self):
        from tika_spark.analysis.brotli_transforms import (PREFIX_SUFFIX,
                                                           TRANSFORMS)
        assert len(PREFIX_SUFFIX) == 50 and PREFIX_SUFFIX[49] == b""
        assert len(TRANSFORMS) == 121
        assert TRANSFORMS[0] == (49, 0, 49)          # identity
        assert sum(len(s) + 1 for s in PREFIX_SUFFIX) == 217

    def test_dict_word_transforms(self):
        from tika_spark.analysis.brotlicodec import _dict_word
        assert _dict_word(4, 17) == b"year"                  # identity
        assert _dict_word(4, (1 << 10) | 17) == b"year "     # suffix ' '
        assert _dict_word(4, (9 << 10) | 17) == b"Year"      # uc-first
        assert _dict_word(11, (2 << 10) | 905) == b" time of the "
        # omit-last-3 of len-19 "background-color: #"
        assert _dict_word(19, (23 << 7) | 9) == b"background-color"

    def test_ferment_utf8(self):
        from tika_spark.analysis.brotlicodec import _dict_word
        import pytest as _p
        with _p.raises(ValueError):
            _dict_word(3, 0)        # below min word length
        with _p.raises(ValueError):
            _dict_word(25, 0)       # above max
        with _p.raises(ValueError):
            _dict_word(4, 121 << 10)  # transform id out of range

    def test_decode_dictionary_reference_stream(self):
        # crafted single-metablock stream: 8 literals then an explicit
        # distance 9 at position 8 -> static dictionary word 0 ("time")
        from tika_spark.analysis.brotlicodec import (_write_var_mlen,
                                                     _write_count,
                                                     _huffman_lengths,
                                                     _emit_prefix_code,
                                                     _cmd_symbol,
                                                     _LSB6,
                                                     INSERT_BASE,
                                                     INSERT_EXTRA,
                                                     COPY_BASE,
                                                     COPY_EXTRA,
                                                     decompress)
        w = LsbWriter()
        w.write(0, 1)            # WBITS 16
        w.write(1, 1)            # ISLAST
        w.write(0, 1)
        _write_var_mlen(w, 12)
        for _ in range(3):
            _write_count(w, 1)
        w.write(0, 2)
        w.write(0, 4)
        w.write(_LSB6, 2)
        _write_count(w, 1)
        _write_count(w, 1)
        lits = b"abcdefgh"
        lit_lens = _huffman_lengths({b: 1 for b in lits})
        ic = max(i for i, b in enumerate(INSERT_BASE) if b <= 8)
        cc = max(i for i, b in enumerate(COPY_BASE) if b <= 4)
        sym = _cmd_symbol(ic, cc, False)
        cmd_lens = _huffman_lengths({sym: 1})
        # explicit distance 9: sym 19 covers 9..12 (nbits 2, offset 8)
        dist_lens = _huffman_lengths({19: 1})
        _emit_prefix_code(w, lit_lens, 256)
        _emit_prefix_code(w, cmd_lens, 704)
        _emit_prefix_code(w, dist_lens, 64)
        lit_codes = canonical_codes(sorted(lit_lens.items()))
        code_w = canonical_codes(sorted(cmd_lens.items()))
        w.write(8 - INSERT_BASE[ic], INSERT_EXTRA[ic])
        w.write(4 - COPY_BASE[cc], COPY_EXTRA[cc])
        for b in lits:
            w.write_code(*lit_codes[b])
        w.write(9 - 1 - 8, 2)    # distance extra for sym 19 -> 9
        out = decompress(w.bytes())
        assert out == b"abcdefghtime"
