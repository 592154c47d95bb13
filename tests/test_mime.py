"""MIME detection unit tests.

Port the *semantics* of the reference's detection tests:
MimeDetectionTest.java:42-91 (magic + hint precedence + BOM cases),
TextDetectorTest.java (2%/90%/512B thresholds), PatternsTest.java
(glob precedence), MediaTypeRegistry lattice behavior.
"""

import pandas as pd
import pytest

from tika_spark.mime import detector, globs, lattice, magic


class TestMagic:
    def test_pdf(self):
        assert magic.match_magic(b"%PDF-1.4 blah") == "application/pdf"

    def test_gzip(self):
        assert magic.match_magic(b"\x1f\x8b\x08rest") == "application/x-gzip"

    def test_zip(self):
        assert magic.match_magic(b"PK\x03\x04rest") == "application/zip"

    def test_png(self):
        assert magic.match_magic(b"\x89PNG\r\n\x1a\nxx") == "image/png"

    def test_html_tag_in_window(self):
        assert magic.match_magic(b"  \n <html><body>hi") == "text/html"
        assert magic.match_magic(b"<!DOCTYPE html><html>") == "text/html"
        assert magic.match_magic(b"<TITLE>t</TITLE>") == "text/html"

    def test_html_tag_outside_window_misses(self):
        pad = b" " * 100
        assert magic.match_magic(pad + b"<html>") != "text/html"

    def test_xml_decl(self):
        assert magic.match_magic(b"<?xml version='1.0'?><a/>") == "application/xml"

    # widened web-crawl set (VERDICT r1 task 5): each sample is the
    # format's published signature + filler — none may fall to
    # octet-stream or a wrong type
    WIDE = [
        (b"\x00\x00\x00\x20ftypisom\x00\x00\x02\x00iso2", "video/mp4"),
        (b"\x00\x00\x00\x20ftypM4A \x00\x00\x02\x00", "audio/mp4"),
        (b"\x00\x00\x00\x18ftyp3gp4\x00\x00\x02\x00", "video/3gpp"),
        (b"\x00\x00\x00\x1cftypavif\x00\x00\x00\x00", "image/avif"),
        (b"\x00\x00\x00\x14ftypqt  \x00\x00\x02\x00", "video/quicktime"),
        (b"\x00\x00\x00\x08moovdata", "video/quicktime"),
        (b"\x1aE\xdf\xa3\x01\x00\x00\x00\x00\x00\x00\x1f"
         b"\x42\x86\x81\x01B\x82\x84webm", "video/webm"),
        (b"\x1aE\xdf\xa3\x01\x00\x00\x00\x00\x00\x00\x23"
         b"\x42\x86\x81\x01B\x82\x88matroska", "video/x-matroska"),
        (b"OggS\x00\x02" + b"\x00" * 20 + b"\x01\x01" + b"\x01vorbis",
         "audio/ogg"),
        (b"OggS\x00\x02" + b"\x00" * 20 + b"\x01\x01" + b"\x80theora",
         "video/ogg"),
        (b"OggS\x00\x02" + b"\x00" * 20 + b"\x01\x01" + b"BBCD\x00",
         "application/ogg"),
        (b"RIFF\x24\x00\x00\x00WEBPVP8 ", "image/webp"),
        (b"RIFF\x24\x00\x00\x00AVI LIST", "video/x-msvideo"),
        (b"RIFF\x24\x00\x00\x00WAVEfmt ", "audio/x-wav"),
        (b"fLaC\x00\x00\x00\x22", "audio/x-flac"),
        (b"MThd\x00\x00\x00\x06", "audio/midi"),
        (b"wOFF\x00\x01\x00\x00", "font/woff"),
        (b"wOF2\x00\x01\x00\x00", "font/woff2"),
        (b"\x00\x00\x01\x00\x01\x00\x10\x10", "image/x-icon"),
        (b"SQLite format 3\x00\x10\x00", "application/x-sqlite3"),
        (b"\x00asm\x01\x00\x00\x00", "application/wasm"),
        (b"7z\xbc\xaf\x27\x1c\x00\x04", "application/x-7z-compressed"),
        (b"\xfd7zXZ\x00\x00\x04", "application/x-xz"),
        (b"\x28\xb5\x2f\xfd\x24\x00", "application/zstd"),
        (b"MZ\x90\x00\x03\x00", "application/x-msdownload"),
        (b"\x7fELF\x02\x01\x01\x00", "application/x-elf"),
        (b"PAR1\x15\x04\x19", "application/x-parquet"),
        (b"AC1015junkheader", "image/vnd.dwg"),
        (b"CDF\x01\x00\x00\x00", "application/x-netcdf"),
        (b"\x89HDF\r\n\x1a\n\x00", "application/x-hdf"),
        (b"\x78\x9f\x3e\x22\x01\x00", "application/vnd.ms-tnef"),
    ]

    @pytest.mark.parametrize("payload,want", WIDE,
                             ids=[w for _, w in WIDE])
    def test_widened_magic(self, payload, want):
        assert magic.match_magic(payload + b"\x00" * 32) == want
        assert detector.detect(payload + b"\x00" * 32) == want

    def test_widened_globs(self):
        cases = {"a.webm": "video/webm", "b.mkv": "video/x-matroska",
                 "c.ogg": "audio/ogg", "d.m4a": "audio/mp4",
                 "e.woff2": "font/woff2", "f.ico": "image/x-icon",
                 "g.sqlite": "application/x-sqlite3",
                 "h.wasm": "application/wasm",
                 "i.7z": "application/x-7z-compressed",
                 "j.zst": "application/zstd",
                 "k.webp": "image/webp", "l.avif": "image/avif",
                 "m.exe": "application/x-msdownload",
                 "n.parquet": "application/x-parquet"}
        for name, want in cases.items():
            assert globs.match_name("http://x/" + name) == want, name

    def test_widened_types_have_routes(self):
        from tika_spark.pipeline.stages import route_for_mime
        for _, mime in self.WIDE:
            assert route_for_mime(mime) is not None, mime

    def test_xml_utf16_boms(self):
        le = "<?xml version='1.0'?>".encode("utf-16-le")
        assert magic.match_magic(b"\xff\xfe" + le) == "application/xml"
        be = "<?xml version='1.0'?>".encode("utf-16-be")
        assert magic.match_magic(b"\xfe\xff" + be) == "application/xml"

    def test_bom_only_is_text(self):
        assert magic.match_magic(b"\xef\xbb\xbfhello") == "text/plain"
        assert magic.match_magic(b"\xff\xfeh\x00i\x00") == "text/plain"

    def test_no_match(self):
        assert magic.match_magic(b"\x00\x01\x02\x03unknown") is None


class TestTextSniff:
    def test_plain_ascii(self):
        assert detector.looks_like_text(b"Hello, plain world!\n")

    def test_empty_is_not_text(self):
        assert not detector.looks_like_text(b"")

    def test_control_bytes_binary(self):
        assert not detector.looks_like_text(b"\x00\x01\x02" + b"a" * 100)

    def test_two_percent_threshold(self):
        # 1 control byte in 512 is < 2% and rest ASCII -> text
        data = b"a" * 511 + b"\x01"
        assert detector.looks_like_text(data)
        # 11 control bytes in 512 is > 2% -> binary
        data = b"a" * 501 + b"\x01" * 11
        assert not detector.looks_like_text(data)

    def test_only_first_512_inspected(self):
        data = b"a" * 512 + b"\x00" * 100
        assert detector.looks_like_text(data)


class TestGlobs:
    def test_url_stripping(self):
        assert globs.resource_name_from_url(
            "https://x.example/a/b/page.html?q=1#frag") == "page.html"

    def test_percent_decode(self):
        assert globs.resource_name_from_url(
            "https://x.example/My%20Doc.pdf") == "My Doc.pdf"

    def test_ext_lookup(self):
        assert globs.match_name("http://a/b.xls") == "application/vnd.ms-excel"
        assert globs.match_name("file.TXT") == "text/plain"
        assert globs.match_name("noext") is None


class TestLattice:
    def test_xml_plus_suffix(self):
        assert lattice.supertype("application/rss+xml") == "application/xml"

    def test_text_star(self):
        assert lattice.supertype("text/x-anything") == "text/plain"

    def test_specialization_transitive(self):
        assert lattice.is_specialization_of("application/rss+xml", "text/plain")
        assert lattice.is_specialization_of("text/html", "text/plain")
        assert lattice.is_specialization_of("application/pdf",
                                            "application/octet-stream")
        assert not lattice.is_specialization_of("text/plain", "text/html")

    def test_chain_ends_at_octet(self):
        chain = lattice.supertype_chain("image/svg+xml")
        assert chain[-1] == "application/octet-stream"


class TestComposite:
    def test_root_xml_refinement_rss(self):
        data = b"<?xml version='1.0'?>\n<rss version='2.0'><channel/></rss>"
        assert detector.detect(data) == "application/rss+xml"

    def test_root_xml_refinement_atom(self):
        data = b"<?xml version='1.0'?><feed xmlns='http://www.w3.org/2005/Atom'/>"
        assert detector.detect(data) == "application/atom+xml"

    def test_xhtml_via_namespace(self):
        data = (b"<?xml version='1.0'?>"
                b"<html xmlns='http://www.w3.org/1999/xhtml'><head/></html>")
        assert detector.detect(data) == "application/xhtml+xml"

    def test_name_hint_specializes(self):
        # text/plain magic + .csv name -> text/csv (specialization wins)
        assert detector.detect(b"a,b,c\n1,2,3\n", "http://x/f.csv") == "text/csv"

    def test_name_hint_ignored_when_not_specialization(self):
        # PDF magic + .txt name: text/plain is NOT below pdf -> magic wins
        assert detector.detect(b"%PDF-1.4", "http://x/f.txt") == "application/pdf"

    def test_declared_hint_specializes(self):
        got = detector.detect(b"plain words here",
                              declared_type="text/html; charset=utf-8")
        assert got == "text/html"

    def test_empty_stream(self):
        assert detector.detect(b"") == "application/octet-stream"
        assert detector.detect(None) == "application/octet-stream"

    def test_binary_junk(self):
        assert detector.detect(bytes(range(256)) * 4) == "application/octet-stream"

    def test_big_preamble_html(self):
        # >4KB of comments before <html>: magic 0:64 misses, root-XML hits
        data = b"<!--" + b"x" * 5000 + b"-->\n<html><body>hi</body></html>"
        assert detector.detect(data) == "text/html"


class TestBatch:
    def test_batch_matches_scalar(self):
        payloads = [
            b"%PDF-1.4 x", b"<html><body>a</body></html>",
            b"<?xml version='1.0'?><rss><channel/></rss>",
            b"plain text here", b"\x00\x01\x02\x03", b"",
            b"PK\x03\x04zipdata", b"\x1f\x8bgz",
            # comment-led feeds and SVG take their root type
            b"<!-- generated -->\n<?xml version='1.0'?><rss><channel>"
            b"<title>Feed T</title></channel></rss>",
            b"<!-- x -->\n<feed xmlns='http://www.w3.org/2005/Atom'>"
            b"<title>A</title></feed>",
            b"<!-- x --><svg xmlns='http://www.w3.org/2000/svg'/>",
            b'<html xmlns="http://www.w3.org/1999/xhtml"><body/></html>',
            b"<!--[if IE]><![endif]--><p>hi",
            b"<?xml version='1.0'?><rss><channel/></rss>",
            # no magic at offset 0 and no known root: the text sniff
            b"  <!-- note --> hello",
        ]
        urls = [None, "http://a/x.html", None, "http://a/notes.txt",
                None, None, "http://a/a.zip", None,
                None, None, None, None, None, "http://a/feed.xml", None]
        got = detector.detect_batch(payloads, urls)
        want = [detector.detect(p, uu) for p, uu in zip(payloads, urls)]
        assert got == want
        assert got[8:13] == [
            "application/rss+xml", "application/atom+xml",
            "image/svg+xml", "application/xhtml+xml", "text/html"]
        assert got[14] == "text/plain"

    def test_batch_hint_specialization_on_hot_path(self):
        s = [b"<?xml version='1.0'?><html xmlns='http://www.w3.org/1999/xhtml'/>"]
        u = ["http://a/page.xhtml"]
        assert detector.detect_batch(s, u) == ["application/xhtml+xml"]

    def test_comment_led_rss_routes_to_feed(self):
        from tika_spark.config import ExtractConfig
        from tika_spark.pipeline import stages
        pdf = pd.DataFrame({
            "url": ["http://a/feed", "http://a/page"],
            "html": [b"<!-- generated -->\n<rss version='2.0'><channel>"
                     b"<title>Feed T</title><item><title>Item one</title>"
                     b"<link>http://a/1</link>"
                     b"<description>Body one</description></item>"
                     b"</channel></rss>",
                     b"<!-- generated -->\n<p>Body two</p>"]})
        out = stages.process_batch(pdf, ExtractConfig(mode="text"))
        assert out["mime"].tolist() == ["application/rss+xml", "text/html"]
        assert [stages.route_for_mime(m) for m in out["mime"]] == [
            "feed", "html"]
        assert out["status"].tolist() == ["ok", "ok"]
        assert out["title"][0] == "Feed T"
        assert "Body one" in out["text"][0]
        assert out["links"][0][0]["uri"] == "http://a/1"


def _linear_match_magic(prefix: bytes) -> str | None:
    """Reference scan: every rule in priority order, no index."""
    if not prefix:
        return None
    for rule in magic.MAGIC_RULES:
        if any(magic._clause_matches(prefix, c) for c in rule.clauses):
            if rule.confirm is None or all(
                    magic._clause_matches(prefix, c) for c in rule.confirm):
                return rule.mime
    return None


def test_magic_index_matches_linear_scan():
    import random
    rng = random.Random(11)
    clauses = [c for r in magic.MAGIC_RULES
               for c in r.clauses + (r.confirm or ())]
    probes = []
    for c in clauses:
        for at in (c.lo, c.hi):
            pad = rng.randbytes(at)
            tail = rng.randbytes(rng.randrange(0, 48))
            probes += [pad + c.pattern + tail, pad + c.pattern,
                       pad + c.pattern[:1] + tail, pad + c.pattern[:-1]]
    for _ in range(6000):
        probes.append(rng.randbytes(rng.randrange(0, 96)))
    for _ in range(6000):
        # a random clause planted inside its window over random bytes
        c = rng.choice(clauses)
        at = rng.randint(c.lo, c.hi)
        buf = bytearray(rng.randbytes(at + len(c.pattern)
                                      + rng.randrange(0, 600)))
        buf[at:at + len(c.pattern)] = c.pattern
        probes.append(bytes(buf[:rng.randrange(1, len(buf) + 1)]))
    assert len(probes) >= 10_000
    bad = [p[:16] for p in probes
           if magic.match_magic(p) != _linear_match_magic(p)]
    assert bad == []


if __name__ == "__main__":
    import sys
    sys.exit(pytest.main([__file__, "-q"]))


def test_widened_signature_table():
    """Round-2 bulk signature widening: published magic numbers for
    archives, legacy media, documents, science formats resolve to their
    named types instead of octet-stream (tika-mimetypes.xml parity)."""
    from tika_spark.mime.detector import detect
    cases = [
        (b"Rar!\x1a\x07\x00" + b"\0" * 32, "application/x-rar-compressed"),
        (b"Rar!\x1a\x07\x01\x00" + b"\0" * 32,
         "application/x-rar-compressed"),
        (b"MSCF\x00\x00\x00\x00" + b"\0" * 32,
         "application/vnd.ms-cab-compressed"),
        (b"FWS\x09" + b"\0" * 16, "application/x-shockwave-flash"),
        (b"%!PS-Adobe-3.0\n", "application/postscript"),
        (b"AT&TFORM" + b"\0" * 8, "image/vnd.djvu"),
        (b"\0" * 128 + b"DICM" + b"\0" * 8, "application/dicom"),
        (b"\x00\x00\x00\x0cjP  \r\n\x87\n", "image/jp2"),
        (b"\x01\x00\x00\x00" + b"\0" * 36 + b" EMF" + b"\0" * 8,
         "image/emf"),
        (b"FORM\x00\x00\x12\x34AIFF", "audio/x-aiff"),
        (b".snd\x00\x00\x00\x18", "audio/basic"),
        (b"#!AMR\n\x3c", "audio/amr"),
        (b"#!AMR-WB\n\x3c", "audio/amr-wb"),
        (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11" + b"\0" * 8,
         "video/x-ms-asf"),
        (b"\x00\x00\x01\xba\x44", "video/mpeg"),
        (b"\0" * 60 + b"BOOKMOBI" + b"\0" * 8,
         "application/x-mobipocket-ebook"),
        (b"\xd4\xc3\xb2\xa1" + b"\0" * 20, "application/vnd.tcpdump.pcap"),
        (b"SIMPLE  =                    T", "application/fits"),
        (b"bplist00" + b"\0" * 8, "application/x-plist"),
        (b"d8:announce35:", "application/x-bittorrent"),
        (b"-----BEGIN CERTIFICATE-----\n", "application/x-pem-file"),
        (b"BEGIN:VCALENDAR\r\n", "text/calendar"),
        (b"BEGIN:VCARD\r\n", "text/x-vcard"),
        # ISO9660 volume descriptor sits past the old 8 KiB window —
        # MAGIC_PREFIX now matches MimeTypes.getMinLength() (64 KiB)
        (b"\0" * 32769 + b"CD001" + b"\0" * 8,
         "application/x-iso9660-image"),
        (b"\xed\xab\xee\xdb" + b"\0" * 8, "application/x-rpm"),
        (b"\xcf\xfa\xed\xfe" + b"\0" * 8, "application/x-mach-o"),
        (b"WARC/1.0\r\n", "application/warc"),
    ]
    for payload, want in cases:
        assert detect(payload) == want, (want, detect(payload))


def test_mp2t_requires_packet_stride():
    """The single 0x47 sync byte only fires with three more sync bytes
    at the 188-byte packet stride (multi-clause confirm), so text or
    binary starting with 'G' is not claimed as MPEG-TS."""
    from tika_spark.mime.detector import detect
    ts = bytearray(b"\0" * 752)
    for off in (0, 188, 376, 564):
        ts[off] = 0x47
    assert detect(bytes(ts)) == "video/mp2t"
    assert detect(b"G" + b"\0" * 600) != "video/mp2t"
    assert detect(b"Good morning, this is plain text." + b" filler" * 40) \
        == "text/plain"


def test_class_vs_macho_fat_magic():
    """cafebabe stays Java class (the reference's documented wart);
    only the 64-bit fat variant cafebabf goes to Mach-O."""
    from tika_spark.mime.detector import detect
    assert detect(b"\xca\xfe\xba\xbe\x00\x00\x00\x34") == \
        "application/java-vm"
    assert detect(b"\xca\xfe\xba\xbf" + b"\0" * 8) == "application/x-mach-o"


def test_glob_table_has_no_duplicate_keys():
    """EXT_MAP is one big literal — a duplicate key silently drops the
    earlier mapping, so audit the AST."""
    import ast

    import tika_spark.mime.globs as G
    tree = ast.parse(open(G.__file__).read())
    big = [n for n in ast.walk(tree)
           if isinstance(n, ast.Dict) and len(n.keys) > 50]
    assert big, "EXT_MAP literal not found"
    keys = [k.value for k in big[0].keys if isinstance(k, ast.Constant)]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert dups == [], f"duplicate glob keys: {dups}"


def test_widened_root_xml_rules():
    """Root-element refinement names the widened +xml family
    (tika-mimetypes.xml root-XML blocks)."""
    from tika_spark.mime.detector import detect
    cases = [
        (b'<?xml version="1.0"?><kml xmlns="http://www.opengis.net/'
         b'kml/2.2"><Placemark/></kml>',
         "application/vnd.google-earth.kml+xml"),
        (b'<?xml version="1.0"?><gpx version="1.1"><trk/></gpx>',
         "application/gpx+xml"),
        (b'<?xml version="1.0"?><opml version="2.0"><head/></opml>',
         "text/x-opml+xml"),
        (b'<?xml version="1.0"?><math xmlns="http://www.w3.org/1998/'
         b'Math/MathML"><mi>x</mi></math>',
         "application/mathml+xml"),
        (b'<?xml version="1.0"?><xsl:stylesheet xmlns:xsl="http://www'
         b'.w3.org/1999/XSL/Transform" version="1.0"/>',
         "application/xslt+xml"),
        (b'<?xml version="1.0"?><project xmlns="http://maven.apache.'
         b'org/POM/4.0.0"><modelVersion>4.0.0</modelVersion></project>',
         "application/x-maven-pom+xml"),
        # ant build files share the <project> root but not the POM ns
        (b'<?xml version="1.0"?><project name="build" default="all"/>',
         "application/xml"),
    ]
    for payload, want in cases:
        assert detect(payload) == want, (want, detect(payload))


def test_glob_long_tail_supplement():
    """Round-2 long-tail widening: EXT_MAP carries the full registry
    breadth (951 reference globs; ours >= 1100 incl. curated extras)
    with curated entries keeping precedence over the generated tier."""
    from tika_spark.mime.globs import EXT_MAP, match_name
    assert len(EXT_MAP) >= 1100
    # generated-tier samples spanning the registry's families
    assert match_name("x.atomcat") == "application/atomcat+xml"
    assert match_name("x.hqx") == "application/mac-binhex40"
    assert match_name("score.ma") == "application/mathematica"
    assert match_name("README") == "text/plain"          # literal tier
    assert match_name("a/.htaccess") == "text/plain"
    # curated precedence survives the merge
    assert match_name("x.bmp") == "image/bmp"
    assert match_name("x.otf") == "font/otf"


def test_round2_magic_long_tail():
    """Remaining reference magic blocks (round-2 widening): legacy
    office/document/font/audio/science formats resolve by signature
    (tika-mimetypes.xml parity, blocks not covered by container or
    root-XML refinement)."""
    from tika_spark.mime.detector import detect
    cases = [
        (b"\0" * 11 + b"must be converted with BinHex 4.0",
         "application/mac-binhex40"),
        (b"WordPro\x00" + b"\0" * 8, "application/vnd.lotus-wordpro"),
        (b"<MIFFile 2015>", "application/vnd.mif"),
        (b"\0" * 8 + b"\x19\x04\x00\x10" + b"\0" * 8,
         "application/vnd.symbian.install"),
        (b"\x80\x01\x88\x13\x00\x00%!PS-AdobeFont-1.0: X",
         "application/x-font-type1"),
        (b"%!PS-AdobeFont-1.0: Times", "application/x-font-type1"),
        (b"StartFontMetrics 4.1\n", "application/x-font-adobe-metric"),
        (b"#!/bin/bash\necho hi\n", "application/x-sh"),
        (b"\\documentclass{article}\n", "application/x-tex"),
        (b"\\input texinfo @c -*-texinfo-*-\n", "application/x-texinfo"),
        (b"\0" * 257 + b"ustar  \x00" + b"\0" * 100,
         "application/x-gtar"),
        (b"\0" * 257 + b"ustar\x0000" + b"\0" * 100, "application/x-tar"),
        (b"HWP Document File V3.00 \x1a\x01\x02", "application/x-hwp"),
        (b"ab-lh0-xxxx", "application/x-lharc"),
        (b"\x00\x01\x00\x00Standard Jet DB", "application/x-msaccess"),
        (b"PSID\x00\x02", "audio/prs.sid"),
        (b"\0" * 1080 + b"M.K." + b"\0" * 4, "audio/x-mod"),
        (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11" + b"\0" * 100
         + "Windows Media Audio 9".encode("utf-16-le"), "audio/x-ms-wma"),
        (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11" + b"\0" * 100
         + "Windows Media Video 9".encode("utf-16-le"), "video/x-ms-wmv"),
        (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11" + b"\0" * 100,
         "video/x-ms-asf"),
        (b".ra\xfd\x00\x03", "audio/x-pn-realaudio"),
        (b"gimp xcf v011", "image/x-xcf"),
        (b"diff --git a/x b/x\n", "text/x-diff"),
        (b'.\\" troff comment\n', "text/troff"),
        (b"\x8bJNG\r\n\x1a\n", "video/x-jng"),
        (b"@article{key,\n author={x}}",
         "application/x-bibtex-text-file"),
        (b"\xf7\x02\x01\x83\x92\xc0", "application/x-dvi"),
        (b"[KDE Desktop Entry]\n", "application/x-kdelnk"),
        (b"\0" * 20 + b"\xdc\xa7\xc4\xfd", "application/x-zoo"),
        (b"\0" * 12 + b"\x61\x15\x06\x00", "application/x-berkeley-db"),
    ]
    for payload, want in cases:
        assert detect(payload) == want, (want, detect(payload))
