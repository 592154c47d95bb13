"""TXT / XML / feed / PDF parser tests + language identification.

Models the reference's parser test contracts: TXTParser BOM/charset
behavior, DcXMLParser metadata mapping, FeedParser emission shape,
PDFParserTest word-boundary and reading-order pins,
LanguageIdentifierTest round-trips.
"""

import pytest
from collections import Counter

from tika_spark.fixtures.pdfgen import make_pdf, make_pdf_objstm
from tika_spark.language import CERTAINTY_LIMIT, default_model, profile_text
from tika_spark.language.corpus import PROFILE_LANGUAGES, SEED_TEXT
from tika_spark.pdf import extract_pdf
from tika_spark.textparse import extract_text
from tika_spark.xmlparse import extract_feed, extract_xml


class TestTxt:
    def test_utf8(self):
        r = extract_text("héllo wörld".encode("utf-8"))
        assert r["text"] == "héllo wörld\n"
        assert r["charset"] == "utf-8"

    def test_bom_dropped(self):
        r = extract_text(b"\xef\xbb\xbfhello")
        assert r["text"] == "hello\n"

    def test_utf16le(self):
        r = extract_text("привет мир".encode("utf-16-le"), None, None)
        # no BOM: statistical utf-16 null-pattern recognizer
        assert "привет" in r["text"]

    def test_utf16_bom(self):
        r = extract_text("hello world".encode("utf-16"))  # BOM'd
        assert r["text"] == "hello world\n"

    def test_cp866_russian(self):
        data = "русский текст в старой кодировке для проверки".encode("cp866")
        r = extract_text(data)
        assert r["charset"] == "cp866"
        assert "русский" in r["text"]

    def test_cp500_ebcdic(self):
        data = "the quick brown fox jumps over the lazy dog".encode("cp500")
        r = extract_text(data)
        assert r["charset"] == "cp500"
        assert "quick brown fox" in r["text"]

    def test_declared_hint(self):
        data = "café".encode("iso-8859-1")
        r = extract_text(data, declared_type="text/plain; charset=iso-8859-1")
        assert "café" in r["text"]


class TestXml:
    def test_text_content(self):
        r = extract_xml(b"<?xml version='1.0'?><root><a>one</a><b>two</b></root>")
        assert "one" in r["text"] and "two" in r["text"]

    def test_dublin_core(self):
        data = (b"<?xml version='1.0'?>"
                b"<metadata xmlns:dc='http://purl.org/dc/elements/1.1/'>"
                b"<dc:title>Tulips</dc:title>"
                b"<dc:creator>Jane</dc:creator>"
                b"<dc:subject>flowers</dc:subject></metadata>")
        r = extract_xml(data)
        assert r["title"] == "Tulips"
        assert r["metadata"]["dc:creator"] == ["Jane"]

    def test_malformed_is_error_row(self):
        r = extract_xml(b"<?xml version='1.0'?><unclosed>")
        assert r["status"] == "error"

    def test_entity_bomb_refused(self):
        bomb = (b"<?xml version='1.0'?><!DOCTYPE x [<!ENTITY a 'aaaa'>]>"
                b"<x>&a;</x>")
        assert extract_xml(bomb)["status"] == "error"


class TestFeed:
    RSS = (b"<?xml version='1.0'?><rss version='2.0'><channel>"
           b"<title>TestChannel</title><description>Sample RSS File</description>"
           b"<item><title>First</title><link>http://x/1</link>"
           b"<description>one desc</description></item>"
           b"<item><title>Second</title><link>http://x/2</link></item>"
           b"</channel></rss>")

    def test_rss_metadata(self):
        r = extract_feed(self.RSS)
        assert r["title"] == "TestChannel"
        assert r["metadata"]["description"] == ["Sample RSS File"]

    def test_rss_shape_and_links(self):
        r = extract_feed(self.RSS)
        assert r["text"].startswith("TestChannel\nSample RSS File\n")
        assert "\tFirst\none desc\n" in r["text"]
        assert [l[1] for l in r["links"]] == ["http://x/1", "http://x/2"]

    def test_atom(self):
        atom = (b"<?xml version='1.0'?>"
                b"<feed xmlns='http://www.w3.org/2005/Atom'>"
                b"<title>AtomFeed</title><subtitle>sub</subtitle>"
                b"<entry><title>E1</title><link href='http://a/1'/>"
                b"<summary>s1</summary></entry></feed>")
        r = extract_feed(atom)
        assert r["title"] == "AtomFeed"
        assert r["links"][0][1] == "http://a/1"


class TestPdf:
    def test_metadata_and_text(self):
        pdf = make_pdf([["Hello PDF line one", "line two"]],
                       title="T1", author="A1")
        r = extract_pdf(pdf)
        assert r["title"] == "T1"
        assert r["metadata"]["Author"] == ["A1"]
        assert r["text"] == "Hello PDF line one\nline two\n\n"

    def test_multi_page_spans(self):
        pdf = make_pdf([["p1"], ["p2"], ["p3"]])
        r = extract_pdf(pdf)
        assert r["metadata"]["xmpTPg:NPages"] == ["3"]
        assert len(r["spans"]) == 3
        assert r["text"] == "p1\n\np2\n\np3\n\n"

    def test_word_boundary_no_concatenation(self):
        # PDFParserTest.java:67-70 pin
        t = extract_pdf(make_pdf([["Toolkit", "Apache tools"]]))["text"]
        assert "ToolkitApache" not in t

    def test_two_column_reading_order(self):
        # PDFParserTest.java:147 pin: box order, not interleaved
        pdf = make_pdf([["Left column line 1", "Left column line 2",
                         "Right column line 1", "Right column line 2"]],
                       two_columns=True)
        t = extract_pdf(pdf)["text"]
        assert ("Left column line 1\nLeft column line 2\n"
                "Right column line 1\nRight column line 2") in t

    def test_uncompressed_stream(self):
        pdf = make_pdf([["plain stream"]], compress=False)
        assert "plain stream" in extract_pdf(pdf)["text"]

    def test_garbage_never_raises(self):
        for junk in (b"", b"%PDF-1.4", b"%PDF-1.4 junk", b"\x00" * 100):
            r = extract_pdf(junk)
            assert isinstance(r["text"], str)

    def test_objstm_xref_stream(self):
        # PDF 1.5 layout: catalog/pages/page/Info inside a compressed
        # /Type/ObjStm, trailer carried by a /Type/XRef stream dict
        pdf = make_pdf_objstm(["ObjStm line one", "line two"], title="TS")
        r = extract_pdf(pdf)
        assert r["status"] == "ok"
        assert r["title"] == "TS"
        assert r["text"] == "ObjStm line one\nline two\n\n"
        assert r["metadata"]["xmpTPg:NPages"] == ["1"]


class TestLanguage:
    def test_profiling_writer_contract(self):
        # ProfilingWriter.java semantics: "ab cd" ->
        # _ab ab_ _cd cd_ (incl. trailing close() separator)
        c = profile_text("ab cd")
        assert dict(c) == {"_ab": 1, "ab_": 1, "_cd": 1, "cd_": 1}

    def test_separator_runs_collapse(self):
        assert profile_text("a  b") == profile_text("a b")

    def test_all_languages_self_identify_certain(self):
        m = default_model()
        for lang in PROFILE_LANGUAGES:
            got, dist = m.identify(SEED_TEXT[lang])
            assert got == lang, f"{lang} -> {got}"
            assert dist < CERTAINTY_LIMIT

    def test_heldout_sentences(self):
        m = default_model()
        cases = {
            "en": "The students wrote letters in the library before the rain.",
            "de": "Die Studenten schrieben Briefe in der Bibliothek am Abend.",
            "fr": "Les étudiants écrivaient des lettres à la bibliothèque.",
            "es": "Los estudiantes escribían cartas en la biblioteca.",
            "ru": "Студенты писали письма в библиотеке вечером.",
        }
        for lang, text in cases.items():
            got, _ = m.identify(text)
            assert got == lang, f"{lang} -> {got}"

    def test_empty_is_unknown(self):
        got, dist = default_model().identify("")
        assert dist >= CERTAINTY_LIMIT


if __name__ == "__main__":
    import sys
    sys.exit(pytest.main([__file__, "-q"]))


class TestProfileBuilder:
    """G3 corpus profile builder (LanguageProfilerBuilder semantics):
    the distributed aggregation must equal per-doc profile_text sums."""

    def test_matches_profile_text(self, spark):
        from tika_spark.language.builder import (build_profiles,
                                                 profile_to_counter)
        texts = ["ab cd", "the quick brown fox", "ab ab zz"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        rows = build_profiles(df, lang_col=None, top_k=1000).collect()
        got = profile_to_counter(rows)
        want = sum((profile_text(t) for t in texts), Counter())
        assert got == want

    def test_top_k_cut_and_rank(self, spark):
        from tika_spark.language.builder import build_profiles
        df = spark.createDataFrame(
            [("aaa bbb", "x"), ("aaa ccc", "y")], "text string, lang string")
        out = build_profiles(df, top_k=2).collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r["lang"], []).append(r)
        assert set(by_lang) == {"x", "y"}
        for lang, rows in by_lang.items():
            assert [r["rank"] for r in
                    sorted(rows, key=lambda r: r["rank"])] == [1, 2]


class TestPdfToUnicode:
    def test_cid_text_via_cmap(self):
        from tika_spark.fixtures.pdfgen import make_pdf_cid
        pdf = make_pdf_cid(["Héllo Ωmega", "line twö"])
        r = extract_pdf(pdf)
        assert r["text"] == "Héllo Ωmega\nline twö\n\n"
        assert r["status"] == "ok"

    def test_bfrange_incrementing(self):
        from tika_spark.pdf.parser import parse_tounicode
        cmap = (b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
                b"1 beginbfrange <0010> <0012> <0041> endbfrange")
        width, table = parse_tounicode(cmap)
        assert width == 2
        assert table[0x10] == "A" and table[0x12] == "C"

    def test_bfrange_array(self):
        from tika_spark.pdf.parser import parse_tounicode
        cmap = (b"begincodespacerange <00> <FF> endcodespacerange\n"
                b"1 beginbfrange <01> <02> [<0058> <0059>] endbfrange")
        width, table = parse_tounicode(cmap)
        assert width == 1
        assert table[1] == "X" and table[2] == "Y"

    def test_font_without_cmap_still_latin1(self):
        pdf = make_pdf([["plain latin"]])
        assert "plain latin" in extract_pdf(pdf)["text"]


class TestPdfFiltersAndDecrypt:
    """VERDICT r1 task 9: LZW/RunLength/ASCII85 filters and the
    empty-password RC4 decrypt attempt (PDFParser.java:76-99)."""

    @pytest.mark.parametrize("filt", ["flate", "lzw", "rle", "a85"])
    def test_filters_end_to_end(self, filt):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["Filter line one", "two"]],
                                 compress=filt))
        assert r["text"] == "Filter line one\ntwo\n\n"

    def test_lzw_spec_vector(self):
        from tika_spark.pdf.parser import _lzw_decode
        # the worked example from the PDF spec (7.4.4.2)
        assert _lzw_decode(b"\x80\x0b\x60\x50\x22\x0c\x0c\x85\x01") \
            == b"-----A---B"

    def test_rle_repeat_runs(self):
        from tika_spark.pdf.parser import _rle_decode
        assert _rle_decode(b"\x02abc\xfeZ\x80") == b"abcZZZ"

    def test_empty_password_decrypt(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["Secret line one", "line two"]],
                       title="Enc T", author="A", encrypt=True)
        r = extract_pdf(pdf)
        assert r["status"] == "ok"
        assert r["title"] == "Enc T"
        assert r["metadata"]["Author"] == ["A"]
        assert r["text"] == "Secret line one\nline two\n\n"

    def test_unsupported_revision_degrades(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["x"]], title="T", encrypt=True)
        patched = pdf.replace(b"/V 1 /R 2", b"/V 4 /R 4")
        r = extract_pdf(patched)
        assert r["status"] == "encrypted"
        assert r["text"] == ""

    def test_encrypted_compressed_combo(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["enc lzw"]], compress="lzw",
                                 encrypt=True))
        assert r["text"] == "enc lzw\n\n"

    def test_aes_block_cipher_fips_vector(self):
        # FIPS-197 appendix C.1 known-answer test
        from tika_spark.pdf.aes import (_decrypt_block, _encrypt_block,
                                        _expand_key)
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        rks = _expand_key(key)
        ct = _encrypt_block(pt, rks)
        assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
        assert _decrypt_block(ct, rks) == pt

    def test_aes_empty_password_decrypt(self):
        # V4/R4 /AESV2 crypt filter with empty passwords — the shape
        # PDFBox opens for the reference (PDFParser.java:76-99)
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["AES secret one", "line two"]],
                       title="Aes T", author="B", encrypt="aes")
        r = extract_pdf(pdf)
        assert r["status"] == "ok"
        assert r["title"] == "Aes T"
        assert r["metadata"]["Author"] == ["B"]
        assert r["text"] == "AES secret one\nline two\n\n"

    def test_aes_encrypted_compressed_combo(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["aes flate"]], compress="flate",
                                 encrypt="aes"))
        assert r["text"] == "aes flate\n\n"

    def test_aes_annotations_decrypt(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["Body"]], freetext=["Aes note"],
                                 link_uri="http://e/a", encrypt="aes"))
        assert r["status"] == "ok"
        assert r["text"] == "Body\nAes note\n\n"
        assert r["links"][0][1] == "http://e/a"

    def test_aes256_block_cipher_fips_vector(self):
        # FIPS-197 appendix C.3 known-answer test (256-bit key)
        from tika_spark.pdf.aes import (_decrypt_block, _encrypt_block,
                                        _expand_key)
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                            "101112131415161718191a1b1c1d1e1f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        rks = _expand_key(key)
        ct = _encrypt_block(pt, rks)
        assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
        assert _decrypt_block(ct, rks) == pt

    def test_aes256_empty_password_decrypt(self):
        # V5/R6 /AESV3 (ISO 32000-2 Algorithm 2.A/2.B) with the empty
        # user password: /U validates, /UE unwraps the 32-byte file
        # key, objects decrypt with the file key directly
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["AES256 secret", "line two"]],
                       title="A256 T", author="C", encrypt="aes256")
        assert b"/AESV3" in pdf and b"AES256 secret" not in pdf
        r = extract_pdf(pdf)
        assert r["status"] == "ok"
        assert r["title"] == "A256 T"
        assert r["metadata"]["Author"] == ["C"]
        assert r["text"] == "AES256 secret\nline two\n\n"

    def test_aes256_wrong_validation_hash_degrades(self):
        # flip a /U validation-hash byte: the empty-password attempt
        # must fail closed into the metadata-only encrypted row
        from tika_spark.fixtures.pdfgen import (_std_crypt_material_r6,
                                                make_pdf)
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["x"]], title="T", encrypt="aes256")
        _, u_val, _, _ = _std_crypt_material_r6()
        good = u_val.hex().upper().encode()
        bad = bytearray(good)
        bad[0:2] = b"00" if good[0:2] != b"00" else b"11"
        patched = pdf.replace(good, bytes(bad))
        assert patched != pdf
        r = extract_pdf(patched)
        assert r["status"] == "encrypted"
        assert r["text"] == ""

    def test_unsupported_cfm_degrades(self):
        # AESV3 at V4 is not a thing we decrypt — metadata-only row
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["x"]], title="T", encrypt="aes")
        patched = pdf.replace(b"/CFM /AESV2", b"/CFM /AESV3")
        r = extract_pdf(patched)
        assert r["status"] == "encrypted"
        assert r["text"] == ""


class TestPdfAnnotations:
    """PDF2XHTML.java:181-250: FreeText annotation text follows the
    page body; Link /A /URI actions surface as links."""

    def test_freetext_and_link(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        pdf = make_pdf([["Body line"]], freetext=["Note one", "Note two"],
                       link_uri="http://x.com/a")
        r = extract_pdf(pdf)
        assert r["text"] == "Body line\nNote one\nNote two\n\n"
        assert r["links"] == [("annotation", "http://x.com/a", None, None)]

    def test_encrypted_annotations_decrypt(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["Body"]], freetext=["Secret note"],
                                 link_uri="http://e/u", encrypt=True))
        assert r["status"] == "ok"
        assert r["text"] == "Body\nSecret note\n\n"
        assert r["links"][0][1] == "http://e/u"


class TestPrt:
    """E12 PRT (CADKEY) text extraction — note entries and view names
    (prt/PRTParser.java:40-260 scan semantics)."""

    @staticmethod
    def _prt(notes=("This is the note text",), views=("TopView",),
             date=b"202401151230", desc=b"Drawing of a widget"):
        hdr = b"\x00" * 30 + date
        descb = desc + b"\x00" * (500 - len(desc))
        body = bytearray(b"\x10\x20\x30")
        for t in notes:
            body += b"\x33" * 5 + b"\xe3\x3f" + bytes(range(10)) + b"\x1f"
            raw = t.encode("cp437") + b"\x00"
            body += len(raw).to_bytes(2, "little") + raw
        for t in views:
            body += b"\x00" * 5 + b"\xe0\x3f"
            raw = t.encode("cp437") + b"\x00"
            body += len(raw).to_bytes(2, "little") + raw
        return hdr + descb + bytes(body)

    def _run(self, data):
        import pandas as pd

        from tika_spark.pipeline.stages import ExtractConfig, \
            process_batch
        pdf = pd.DataFrame({"url": ["doc://d.prt"],
                            "warc_ts": [pd.Timestamp("2020-01-01")],
                            "html": [data]})
        return process_batch(pdf, ExtractConfig(mode="text"), 0).iloc[0]

    def test_notes_views_metadata(self):
        r = self._run(self._prt())
        assert r.mime == "application/x-prt"
        assert r.text == "This is the note text\nTopView\n"
        md = dict(r.metadata)
        assert md["Creation-Date"] == ["2024-01-15T12:30:00"]
        assert md["description"] == ["Drawing of a widget"]

    def test_sanity_guards(self):
        # unterminated text run -> dropped, not emitted
        data = self._prt()
        bad = data.replace(b"TopView\x00", b"TopViewX")
        r = self._run(bad)
        assert "TopView" not in r.text
        # insane length claim -> ignored
        from tika_spark.prt import extract_prt
        hdr = b"\x00" * 542
        run = (b"\x00" * 5 + b"\xe0\x3f"
               + (0x4000).to_bytes(2, "little") + b"A" * 64)
        got = extract_prt(hdr + run)
        assert got["text"] == ""

    def test_cp437_phi_fixup(self):
        # byte 0xED is phi in CP437; the documented fixup renders it
        # as the diameter O-slash sign
        hdr = b"\x00" * 542
        raw = b"Diameter \xed 5mm\x00"
        run = (b"\x33" * 5 + b"\xe3\x3f" + bytes(range(10)) + b"\x1f"
               + len(raw).to_bytes(2, "little") + raw)
        from tika_spark.prt import extract_prt
        got = extract_prt(hdr + run)
        assert "Diameter Ø 5mm" in got["text"]


class TestPdfHardening:
    """Round-2 review fixes: the '\"' operator, indirect /Contents
    array, indirect /Kids, inherited /Resources, span clamping,
    stream-payload phantom objects."""

    @staticmethod
    def _raw_pdf(objects: dict[int, bytes]) -> bytes:
        parts = [b"%PDF-1.4\n"]
        for num, body in sorted(objects.items()):
            parts.append(b"%d 0 obj\n" % num + body + b"\nendobj\n")
        parts.append(b"trailer << /Root 1 0 R >>\n%%EOF")
        return b"".join(parts)

    def test_quote_operator_shows_text(self):
        from tika_spark.pdf.parser import _interpret_text
        t = _interpret_text(
            b"BT 1 2 Td (first) Tj 0 -14 Td (aw) (ac) (quoted) \" ET",
            {})
        assert "first" in t and "quoted" in t

    def test_indirect_contents_array(self):
        from tika_spark.pdf.parser import PdfDocument
        pdf = self._raw_pdf({
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            4: b"[5 0 R]",
            5: b"<< /Length 24 >>\nstream\nBT 1 2 Td (InArr) Tj ET\nendstream",
        })
        doc = PdfDocument(pdf)
        (page,) = doc.pages()
        assert b"InArr" in doc.page_content(page)

    def test_indirect_kids_array(self):
        from tika_spark.pdf.parser import PdfDocument
        pdf = self._raw_pdf({
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids 6 0 R /Count 2 >>",
            6: b"[3 0 R 4 0 R]",
            3: b"<< /Type /Page /Parent 2 0 R >>",
            4: b"<< /Type /Page /Parent 2 0 R >>",
        })
        assert len(PdfDocument(pdf).pages()) == 2

    def test_inherited_resources_reach_tounicode(self):
        from tika_spark.pdf.parser import PdfDocument
        # Resources (with a Font) live on the Pages node, not the page
        pdf = self._raw_pdf({
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
               b"/Resources << /Font << /F1 7 0 R >> >> >>",
            3: b"<< /Type /Page /Parent 2 0 R >>",
            7: b"<< /Type /Font /ToUnicode 8 0 R >>",
            8: b"<< /Length 124 >>\nstream\nbegincmap\n"
               b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
               b"1 beginbfchar\n<41> <0042>\nendbfchar\nendcmap"
               b"\nendstream",
        })
        doc = PdfDocument(pdf)
        (page,) = doc.pages()
        assert "F1" in doc.page_fonts(page)

    def test_stream_payload_cannot_shadow_objects(self):
        from tika_spark.pdf.parser import PdfDocument
        # a stream whose PAYLOAD contains '3 0 obj ... endobj'
        payload = b"decoy 3 0 obj << /Type /Fake >> endobj decoy"
        pdf = self._raw_pdf({
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
            5: b"<< /Length %d >>\nstream\n" % len(payload)
               + payload + b"\nendstream",
        })
        doc = PdfDocument(pdf)
        (page,) = doc.pages()   # object 3 is still the real page
        assert str(page.get("Type")) == "Page"
        assert doc.page_content(page) == payload

    def test_spans_clamped_after_write_limit(self):
        import pandas as pd

        from tika_spark.config import ExtractConfig
        from tika_spark.pipeline.stages import process_batch
        pdf = make_pdf(["A much longer page text here"], title="T")
        r = process_batch(pd.DataFrame({"url": ["doc://d.pdf"],
                                        "html": [pdf]}),
                          ExtractConfig(mode="text",
                                        write_limit=5)).iloc[0]
        assert r["status"] == "write_limit" and len(r["text"]) == 5
        for span in r["spans"]:
            s, e = span["start"], span["end"]
            assert s < len(r["text"]) and e <= len(r["text"])


def test_fictionbook_skips_binary_blobs():
    """E12/xml: FB2 base64 <binary> payloads (cover art — megabytes
    in real files) must never reach the text, and book-title is the
    document title (xml/FictionBookParser.java semantics)."""
    from tika_spark.xmlparse import extract_xml
    fb2 = (b'<?xml version="1.0"?>'
           b'<FictionBook xmlns='
           b'"http://www.gribuser.ru/xml/fictionbook/2.0">'
           b'<description><title-info>'
           b'<book-title>The Book</book-title>'
           b'</title-info></description>'
           b'<body><section><p>Chapter text here.</p></section></body>'
           b'<binary id="c.jpg" content-type="image/jpeg">'
           b'aGVsbG8gYmFzZTY0IGp1bms=</binary></FictionBook>')
    r = extract_xml(fb2)
    assert "Chapter text here." in r["text"]
    assert "aGVsbG8" not in r["text"]
    assert r["title"] == "The Book"


def test_svg_strips_style_script_metadata():
    """SVG via the XML route: CSS/JS/RDF subtrees are not document
    text (same discard set as the HTML chain); title and text
    elements survive."""
    from tika_spark.xmlparse import extract_xml
    svg = (b'<?xml version="1.0"?>'
           b'<svg xmlns="http://www.w3.org/2000/svg">'
           b'<style>.a{fill:red}</style><script>alert(1)</script>'
           b'<title>Logo</title><text>Visible label</text>'
           b'<metadata>rdf junk</metadata></svg>')
    r = extract_xml(svg)
    assert "fill:red" not in r["text"] and "alert" not in r["text"]
    assert "rdf junk" not in r["text"]
    assert "Logo" in r["text"] and "Visible label" in r["text"]


class TestPdfEmbeddedImages:
    """pdf/parser.py page_images: the PDFBox embedded-image route."""

    def _pdf(self, **kw):
        from tika_spark.fixtures.pdfgen import make_pdf_images
        return make_pdf_images(["text body"], **kw)

    def test_dct_jpeg_surfaces_verbatim(self):
        import numpy as np

        from tika_spark.analysis.jpegcodec import jpeg_bytes
        from tika_spark.pdf.parser import extract_pdf
        jp = jpeg_bytes(np.full((6, 10, 1), 77, np.uint8))
        r = extract_pdf(self._pdf(jpeg=jp))
        kids = dict(r["children"])
        assert kids["Im0.jpg"] == jp
        assert r["text"].startswith("text body")

    def test_flate_gray_rewraps_lossless_png(self):
        import numpy as np

        from tika_spark.analysis.pixels import decode_png
        from tika_spark.pdf.parser import extract_pdf
        gr = (np.arange(40, dtype=np.uint8).reshape(5, 8) * 6) % 256
        r = extract_pdf(self._pdf(gray=gr))
        arr = decode_png(dict(r["children"])["Im1.png"])
        assert np.array_equal(arr[:, :, 0], gr)

    def test_pdf_without_images_has_no_children(self):
        from tika_spark.fixtures.pdfgen import make_pdf
        from tika_spark.pdf.parser import extract_pdf
        r = extract_pdf(make_pdf([["just text"]]))
        assert r.get("children", []) == []

    def test_corrupt_image_stream_never_fails_the_page(self):
        import numpy as np

        from tika_spark.analysis.jpegcodec import jpeg_bytes
        from tika_spark.pdf.parser import extract_pdf
        jp = jpeg_bytes(np.full((4, 4, 1), 9, np.uint8))
        pdf = bytearray(self._pdf(jpeg=jp))
        # corrupt the image stream's zlib-free JPEG payload region:
        # truncating bytes inside the stream must degrade to a
        # smaller/absent child, not an error row
        i = pdf.find(jp)
        pdf[i:i + 4] = b"\x00\x00\x00\x00"
        r = extract_pdf(bytes(pdf))
        assert r["status"] == "ok"
        assert r["text"].startswith("text body")
