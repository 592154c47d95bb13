"""Shared bitstream primitives (analysis/bitio.py): both bit orders,
canonical code assignment, prefix-code decoding, and the error class
each codec's readers raise on a truncated stream."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_spark.analysis.bitio import (LsbReader, LsbWriter, MsbReader,
                                       MsbWriter, PrefixCode,
                                       canonical_codes, huffman_lengths)

ORDERS = [(MsbReader, MsbWriter), (LsbReader, LsbWriter)]

_field = st.integers(0, 32).flatmap(
    lambda n: st.tuples(st.just("bits"), st.integers(0, (1 << n) - 1),
                        st.just(n)))
_ops = st.lists(st.one_of(_field, st.just(("align",)),
                          st.tuples(st.just("raw"),
                                    st.binary(max_size=4))),
                max_size=40)


def _reference_bits(ops, msb: bool) -> bytes:
    """The stream as a bit list, packed by hand."""
    bits: list[int] = []
    for op in ops:
        if op[0] == "bits":
            _, v, n = op
            order = range(n - 1, -1, -1) if msb else range(n)
            bits += [(v >> k) & 1 for k in order]
        else:
            bits += [0] * (-len(bits) % 8)
            if op[0] == "raw":
                for b in op[1]:
                    order = range(7, -1, -1) if msb else range(8)
                    bits += [(b >> k) & 1 for k in order]
    bits += [0] * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = bits[i:i + 8]
        out.append(sum(bit << (7 - j if msb else j)
                       for j, bit in enumerate(byte)))
    return bytes(out)


@pytest.mark.parametrize("reader,writer", ORDERS)
@given(ops=_ops)
@settings(max_examples=150, deadline=None)
def test_roundtrip_widths_align_raw(reader, writer, ops):
    w = writer()
    for op in ops:
        if op[0] == "bits":
            w.write(op[1], op[2])
        else:
            w.align()
            if op[0] == "raw":
                w.raw(op[1])
    data = w.bytes()
    assert data == _reference_bits(ops, reader is MsbReader)
    r = reader(data)
    pos = 0
    for op in ops:
        if op[0] == "bits":
            assert r.read(op[2]) == op[1]
            pos += op[2]
        else:
            assert r.align() == 0             # the writer pads with zeros
            pos += -pos % 8
            if op[0] == "raw":
                assert r.raw(len(op[1])) == op[1]
                pos += 8 * len(op[1])
        assert r.tell() == pos
    with pytest.raises(ValueError):
        r.read(len(data) * 8 - pos + 1)


@pytest.mark.parametrize("reader,writer", ORDERS)
def test_align_returns_padding_and_raw_needs_alignment(reader, writer):
    r = reader(b"\xff\x01")
    r.read(3)
    with pytest.raises(ValueError):
        r.raw(1)
    assert r.align() == 0b11111
    assert r.raw(1) == b"\x01"
    w = writer()
    w.write(1, 1)
    with pytest.raises(ValueError):
        w.raw(b"x")


@st.composite
def _complete_code(draw):
    """Random complete length profile: split leaves of a binary tree,
    then give the leaves to shuffled symbols."""
    leaves = [0]
    for _ in range(draw(st.integers(1, 40))):
        i = draw(st.integers(0, len(leaves) - 1))
        if leaves[i] >= 15:
            continue
        d = leaves.pop(i) + 1
        leaves += [d, d]
    syms = draw(st.permutations(list(range(300))))[:len(leaves)]
    return list(zip(syms, leaves))


@given(_complete_code())
@settings(max_examples=150, deadline=None)
def test_canonical_codes_prefix_free_and_ordered(pairs):
    pairs = sorted(pairs)
    codes = canonical_codes(pairs)
    assert set(codes) == {s for s, _ in pairs}
    words = {s: format(c, f"0{ln}b") for s, (c, ln) in codes.items()}
    assert all(len(words[s]) == ln for s, ln in pairs)
    assert sum(2.0 ** -ln for _, ln in pairs) == 1.0        # Kraft
    for a in words.values():
        for b in words.values():
            assert a is b or not b.startswith(a)
    # canonical order: by length, then by pair order
    order = sorted(range(len(pairs)), key=lambda i: pairs[i][1])
    ranked = [codes[pairs[i][0]][0] << (15 - pairs[i][1]) for i in order]
    assert ranked == sorted(ranked)


@pytest.mark.parametrize("reader,writer", ORDERS)
@given(_complete_code())
@settings(max_examples=100, deadline=None)
def test_prefix_code_decodes_every_symbol(reader, writer, pairs):
    pairs = sorted(pairs)
    code = PrefixCode(pairs)
    if len(pairs) == 1:
        r = reader(b"")
        assert code.read(r) == pairs[0][0] and r.tell() == 0
        return
    for sym, (c, ln) in canonical_codes(pairs).items():
        w = writer()
        if writer is MsbWriter:
            w.write(c, ln)
        else:
            w.write_code(c, ln)
        r = reader(w.bytes())
        assert code.read(r) == sym
        assert r.tell() == ln


def test_single_symbol_code_reads_no_bits():
    r = MsbReader(b"")
    assert PrefixCode([(0, 0), (7, 3)]).read(r) == 7
    assert r.tell() == 0
    with pytest.raises(ValueError):
        PrefixCode([(0, 0)])


def test_unassigned_code_word_raises_reader_error():
    class _Err(ValueError):
        pass

    class _Reader(MsbReader):
        __slots__ = ()
        error = _Err

    code = PrefixCode([(0, 1), (1, 2)])       # "11" is unassigned
    with pytest.raises(_Err):
        code.read(_Reader(b"\xc0"))


def test_jpeg_huffval_order_within_a_length():
    from tika_spark.analysis import jpegcodec as jc
    # T.81 Table K.3 (luminance DC) and Table K.5 entries
    dc = jc._encode_tables(jc.DC_LUM_BITS, jc.DC_LUM_VALS)
    assert [format(c, f"0{n}b") for c, n in
            (dc[v] for v in range(12))] == [
        "00", "010", "011", "100", "101", "110", "1110", "11110",
        "111110", "1111110", "11111110", "111111110"]
    ac = jc._encode_tables(jc.AC_LUM_BITS, jc.AC_LUM_VALS)
    assert ac[0x01] == (0b00, 2) and ac[0x02] == (0b01, 2)
    assert ac[0x00] == (0b1010, 4) and ac[0xF0] == (0b11111111001, 11)
    # a HUFFVAL list out of symbol order keeps its own order
    assert canonical_codes([(5, 2), (1, 2), (9, 1)]) == {
        9: (0b0, 1), 5: (0b10, 2), 1: (0b11, 2)}


def test_huffman_lengths_merge_lightest_first():
    assert huffman_lengths({"a": 5}) == {"a": 1}
    assert huffman_lengths({0: 1, 1: 1, 2: 2, 3: 4}) == {
        0: 3, 1: 3, 2: 2, 3: 1}
    rng = np.random.RandomState(3)
    for _ in range(50):
        freqs = {s: int(f) for s, f in
                 enumerate(rng.randint(1, 1000, rng.randint(2, 60)))}
        lens = huffman_lengths(freqs)
        assert sum(2.0 ** -ln for ln in lens.values()) == 1.0


def test_brotli_rejects_incomplete_codes():
    from tika_spark.analysis import brotlicodec as br

    def stream(clc, words):
        w = LsbWriter()
        w.write(0, 2)                         # complex code, HSKIP 0
        space = 32
        for slot in br.CLC_ORDER:
            br._write_clc_len(w, clc.get(slot, 0))
            space -= 32 >> clc[slot] if slot in clc else 0
            if space <= 0:
                break
        for code, ln in words:
            w.write_code(code, ln)
        return LsbReader(w.bytes() + b"\x00" * 4)
    # code-length code {1: 00, 2: 01} is incomplete, though the two
    # symbol lengths it codes (1, 1) would form a complete code
    with pytest.raises(ValueError, match="code-length"):
        br._read_prefix_code(stream({1: 2, 2: 2}, [(0, 2), (0, 2)]), 2)
    # code-length code {1: 0, 2: 1} is complete; lengths (1, 2) are not
    with pytest.raises(ValueError, match="subscribed"):
        br._read_prefix_code(stream({1: 1, 2: 1}, [(0, 1), (1, 1)]), 2)
    assert br._read_prefix_code(
        stream({1: 1, 2: 1}, [(0, 1), (0, 1)]), 2).read(
            LsbReader(b"\x01")) == 1


def test_brotli_rejects_nonzero_alignment_padding():
    from tika_spark.analysis import brotlicodec as br

    def stream(pad):
        w = LsbWriter()
        w.write(0, 1)                         # wbits 16
        w.write(0, 1)                         # not last
        w.write(0, 2)                         # MNIBBLES = 4
        w.write(4, 16)                        # MLEN = 5
        w.write(1, 1)                         # uncompressed
        w.write(pad, 3)                       # 21 bits: pad to the byte
        w.raw(b"hello")
        w.write(3, 2)                         # last, empty
        return w.bytes()
    assert br.decompress(stream(0)) == b"hello"
    with pytest.raises(ValueError, match="padding"):
        br.decompress(stream(1))


def _h264_cut():
    from tika_spark.analysis.h264 import BitReader
    BitReader(b"\x00").ue()


def _av1_cut():
    from tika_spark.analysis.av1 import parse_sequence_header
    parse_sequence_header(b"\x08")


def _vorbis_cut():
    from tika_spark.analysis import vorbis as vb
    pk = vb.vorbis_headers(1, 8000)
    vb.parse_headers(pk[:2] + [pk[2][:len(pk[2]) // 2]])


def _lzx_cut():
    from tika_spark.chm.lzx import LzxDecoder
    from tika_spark.fixtures.chmgen import lzx_store
    LzxDecoder(16).decompress(lzx_store(bytes(600))[:4], 600)


def _flac_cut():
    from tika_spark.analysis.flac import decode_flac, flac_bytes
    data = flac_bytes(np.arange(500, dtype=np.int16) % 50)
    decode_flac(data[:-40], verify_md5=False)


def _implode_cut():
    from tika_spark.pkg.parser import explode
    explode(b"\x00\x00\x00\x00", 10, 0)       # two 1-symbol trees


@pytest.mark.parametrize("call,error", [
    (_h264_cut, "H264Error"), (_av1_cut, "Av1Error"),
    (_vorbis_cut, "VorbisError"), (_lzx_cut, "LzxError"),
    (_flac_cut, "ValueError"), (_implode_cut, "IndexError")])
def test_truncation_raises_codec_error(call, error):
    with pytest.raises(Exception) as ei:
        call()
    assert type(ei.value).__name__ == error
