"""Package/container subsystem tests: archives (E6), container
detection (B8), OOXML/ODF/EPUB (E8-E10), recursion (F1)."""

import gzip
import io
import tarfile
import zipfile

import pyspark.sql.functions as F
import pytest

from tika_spark.config import ExtractConfig
from tika_spark.mime.detector import detect
from tika_spark.pkg.container import refine_container
from tika_spark.pkg.epub import extract_epub
from tika_spark.pkg.odf import extract_odf
from tika_spark.pkg.ooxml import extract_ooxml
from tika_spark.pkg.parser import extract_package

CFG = ExtractConfig()


def make_zip(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, payload in entries.items():
            zf.writestr(name, payload)
    return buf.getvalue()


def make_tar(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in entries.items():
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


DOCX = make_zip({
    "[Content_Types].xml": b"<Types/>",
    "docProps/core.xml":
        b'<cp:coreProperties '
        b'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
        b'metadata/core-properties" '
        b'xmlns:dc="http://purl.org/dc/elements/1.1/">'
        b"<dc:title>My Doc</dc:title><dc:creator>Ada</dc:creator>"
        b"</cp:coreProperties>",
    "word/document.xml":
        b'<w:document xmlns:w="http://schemas.openxmlformats.org/'
        b'wordprocessingml/2006/main"><w:body>'
        b"<w:p><w:r><w:t>Hello</w:t></w:r><w:r><w:t> world</w:t></w:r>"
        b"</w:p><w:p><w:r><w:t>Second para</w:t></w:r></w:p>"
        b"</w:body></w:document>",
})

ODT = make_zip({
    "mimetype": b"application/vnd.oasis.opendocument.text",
    "meta.xml":
        b'<office:document-meta xmlns:office="urn:oasis:names:tc:'
        b'opendocument:xmlns:office:1.0" xmlns:dc="http://purl.org/dc/'
        b'elements/1.1/"><office:meta><dc:title>Odt Title</dc:title>'
        b"</office:meta></office:document-meta>",
    "content.xml":
        b'<office:document-content xmlns:office="urn:oasis:names:tc:'
        b'opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:'
        b'tc:opendocument:xmlns:text:1.0"><office:body><office:text>'
        b"<text:h>Heading</text:h><text:p>Body one<text:tab/>tabbed"
        b"</text:p></office:text></office:body>"
        b"</office:document-content>",
})

EPUB = make_zip({
    "mimetype": b"application/epub+zip",
    "content.opf":
        b'<package xmlns:dc="http://purl.org/dc/elements/1.1/">'
        b"<metadata><dc:title>Book</dc:title></metadata></package>",
    "ch1.xhtml": b"<html><head><title>c1</title></head><body>"
                 b"<p>chapter one</p></body></html>",
    "ch2.xhtml": b"<html><body><p>chapter two</p></body></html>",
})


# ------------------------------------------------------- B8 detection


def test_detect_zip_plain():
    z = make_zip({"a.txt": b"hello"})
    assert detect(z) == "application/zip"


def test_detect_docx_via_container():
    assert detect(DOCX) == ("application/vnd.openxmlformats-"
                            "officedocument.wordprocessingml.document")


def test_detect_odt_epub_via_mimetype_entry():
    assert detect(ODT) == "application/vnd.oasis.opendocument.text"
    assert detect(EPUB) == "application/epub+zip"


def test_detect_tar_bzip2_gzip():
    assert detect(make_tar({"f": b"x"})) == "application/x-tar"
    assert detect(gzip.compress(b"data")) == "application/x-gzip"
    import bz2
    assert detect(bz2.compress(b"data")) == "application/x-bzip2"


def test_refine_corrupt_zip_stays_zip():
    assert refine_container(b"PK\x03\x04junk", "application/zip") \
        == "application/zip"


# -------------------------------------------------------- E6 archives


def test_zip_package_children_and_text():
    z = make_zip({"one.txt": b"first", "sub/two.html": b"<p>x</p>"})
    r = extract_package(z, "http://e.com/a.zip", None, CFG)
    assert r["text"] == "one.txt\nsub/two.html\n"
    assert [c[0] for c in r["children"]] == ["one.txt", "sub/two.html"]
    assert r["children"][0][1] == b"first"
    assert r["status"] == "ok"
    assert r["spans"][0] == (0, 7, "package-entry")


def test_gzip_package_names_child_from_url():
    g = gzip.compress(b"payload text")
    r = extract_package(g, "http://e.com/file.txt.gz", None, CFG)
    assert r["children"] == [("file.txt", b"payload text")]


def test_tar_package():
    t = make_tar({"a.txt": b"alpha", "b.txt": b"beta"})
    r = extract_package(t, None, None, CFG)
    assert [c for c, _ in r["children"]] == ["a.txt", "b.txt"]


def test_zip_bomb_guard():
    # 10 KB input expanding to ~100 MB would blow the 100x ratio
    bomb = make_zip({"big": b"\0" * 50_000_000})
    r = extract_package(bomb, None, None, CFG)
    total = sum(len(d) for _, d in r["children"])
    assert total <= max(1_000_000, 100 * len(bomb))
    assert r["status"] == "output_limit"


# --------------------------------------------------- E8-E10 documents


def test_docx_extract():
    r = extract_ooxml(DOCX, mime="application/vnd.openxmlformats-"
                      "officedocument.wordprocessingml.document")
    assert r["text"] == "Hello world\nSecond para\n"
    assert r["title"] == "My Doc"
    assert r["metadata"]["Author"] == ["Ada"]


_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_R_NS = ("http://schemas.openxmlformats.org/officeDocument/2006/"
         "relationships")
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"

DOCX_FULL = make_zip({
    "[Content_Types].xml": b"<Types/>",
    "word/_rels/document.xml.rels":
        (f'<Relationships xmlns="{_REL_NS}">'
         '<Relationship Id="rId1" Type="t" Target="header1.xml"/>'
         '<Relationship Id="rId2" Type="t" Target="footer1.xml"/>'
         '<Relationship Id="rId3" Type="t" Target="header2.xml"/>'
         "</Relationships>").encode(),
    "word/header1.xml":
        (f'<w:hdr xmlns:w="{_W_NS}"><w:p><w:r><w:t>Default header'
         "</w:t></w:r></w:p></w:hdr>").encode(),
    "word/header2.xml":
        (f'<w:hdr xmlns:w="{_W_NS}"><w:p><w:r><w:t>First-page header'
         "</w:t></w:r></w:p></w:hdr>").encode(),
    "word/footer1.xml":
        (f'<w:ftr xmlns:w="{_W_NS}"><w:p><w:r><w:t>Page footer'
         "</w:t></w:r></w:p></w:ftr>").encode(),
    "word/footnotes.xml":
        (f'<w:footnotes xmlns:w="{_W_NS}">'
         '<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:t>SEP'
         "</w:t></w:r></w:p></w:footnote>"
         '<w:footnote w:id="1"><w:p><w:r><w:t>a footnote</w:t></w:r>'
         "</w:p></w:footnote></w:footnotes>").encode(),
    "word/endnotes.xml":
        (f'<w:endnotes xmlns:w="{_W_NS}">'
         '<w:endnote w:id="2"><w:p><w:r><w:t>an endnote</w:t></w:r>'
         "</w:p></w:endnote></w:endnotes>").encode(),
    "word/comments.xml":
        (f'<w:comments xmlns:w="{_W_NS}">'
         '<w:comment w:id="0" w:author="Rev"><w:p><w:r><w:t>check this'
         "</w:t></w:r></w:p></w:comment></w:comments>").encode(),
    "word/document.xml":
        (f'<w:document xmlns:w="{_W_NS}" xmlns:r="{_R_NS}"><w:body>'
         '<w:p><w:commentRangeStart w:id="0"/><w:r><w:t>Body one'
         '</w:t></w:r><w:r><w:footnoteReference w:id="1"/></w:r>'
         "</w:p>"
         '<w:p><w:r><w:t>Body two</w:t></w:r>'
         '<w:r><w:endnoteReference w:id="2"/></w:r></w:p>'
         "<w:sectPr>"
         '<w:headerReference w:type="default" r:id="rId1"/>'
         '<w:headerReference w:type="first" r:id="rId3"/>'
         '<w:footerReference w:type="default" r:id="rId2"/>'
         "</w:sectPr></w:body></w:document>").encode(),
})


def test_docx_subdocument_parts():
    """Headers before body, comments + footnotes/endnotes appended to
    their paragraph, footers after body — the reference's
    XWPFWordExtractorDecorator emit order (first/even/default)."""
    r = extract_ooxml(DOCX_FULL, mime="application/vnd.openxmlformats-"
                      "officedocument.wordprocessingml.document")
    assert r["text"] == (
        "First-page header\n"
        "Default header\n"
        "Body one\tComment by Rev: check this[1: a footnote] \n"
        "Body two[2: an endnote] \n"
        "Page footer\n")
    assert r["status"] == "ok"


def test_docx_mid_document_section_header():
    """A paragraph carrying its own w:sectPr emits that section's
    headers before it and footers after it."""
    docx = make_zip({
        "[Content_Types].xml": b"<Types/>",
        "word/_rels/document.xml.rels":
            (f'<Relationships xmlns="{_REL_NS}">'
             '<Relationship Id="rId9" Type="t" Target="header9.xml"/>'
             "</Relationships>").encode(),
        "word/header9.xml":
            (f'<w:hdr xmlns:w="{_W_NS}"><w:p><w:r><w:t>Sect-1 header'
             "</w:t></w:r></w:p></w:hdr>").encode(),
        "word/document.xml":
            (f'<w:document xmlns:w="{_W_NS}" xmlns:r="{_R_NS}">'
             "<w:body>"
             "<w:p><w:pPr><w:sectPr>"
             '<w:headerReference w:type="default" r:id="rId9"/>'
             "</w:sectPr></w:pPr><w:r><w:t>Last para of sect 1"
             "</w:t></w:r></w:p>"
             "<w:p><w:r><w:t>Sect 2 text</w:t></w:r></w:p>"
             "</w:body></w:document>").encode(),
    })
    r = extract_ooxml(docx, mime="application/vnd.openxmlformats-"
                      "officedocument.wordprocessingml.document")
    assert r["text"] == ("Sect-1 header\nLast para of sect 1\n"
                         "Sect 2 text\n")


def test_xlsx_extract():
    xlsx = make_zip({
        "[Content_Types].xml": b"<Types/>",
        "xl/workbook.xml": b"<workbook/>",
        "xl/sharedStrings.xml":
            b'<sst xmlns="http://schemas.openxmlformats.org/'
            b'spreadsheetml/2006/main"><si><t>name</t></si>'
            b"<si><t>qty</t></si></sst>",
        "xl/worksheets/sheet1.xml":
            b'<worksheet xmlns="http://schemas.openxmlformats.org/'
            b'spreadsheetml/2006/main"><sheetData>'
            b'<row><c t="s"><v>0</v></c><c t="s"><v>1</v></c></row>'
            b"<row><c><v>7</v></c><c><v>9</v></c></row>"
            b"</sheetData></worksheet>",
    })
    r = extract_ooxml(xlsx, mime="application/vnd.openxmlformats-"
                      "officedocument.spreadsheetml.sheet")
    assert r["text"] == "name\tqty\n7\t9\n"


_S_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"


def test_xlsx_sheet_names_headers_comments():
    """XSSFExcelExtractorDecorator emit order: sheet name heading,
    rows, stripped header/footer lines; cell comments follow their
    cell as NEWLINE + 'author: text'."""
    xlsx = make_zip({
        "[Content_Types].xml": b"<Types/>",
        "xl/workbook.xml":
            (f'<workbook xmlns="{_S_NS}" xmlns:r="{_R_NS}"><sheets>'
             '<sheet name="Budget" sheetId="1" r:id="rId1"/>'
             "</sheets></workbook>").encode(),
        "xl/_rels/workbook.xml.rels":
            (f'<Relationships xmlns="{_REL_NS}">'
             '<Relationship Id="rId1" Type="t" '
             'Target="worksheets/sheet1.xml"/></Relationships>').encode(),
        "xl/worksheets/_rels/sheet1.xml.rels":
            (f'<Relationships xmlns="{_REL_NS}">'
             '<Relationship Id="rId7" Type="t" '
             'Target="../comments1.xml"/></Relationships>').encode(),
        "xl/comments1.xml":
            (f'<comments xmlns="{_S_NS}"><authors><author>Ana</author>'
             '</authors><commentList><comment ref="B1" authorId="0">'
             "<text><r><t>check me</t></r></text></comment>"
             "</commentList></comments>").encode(),
        "xl/worksheets/sheet1.xml":
            (f'<worksheet xmlns="{_S_NS}"><sheetData>'
             '<row><c r="A1"><v>1</v></c><c r="B1"><v>2</v></c></row>'
             "</sheetData><headerFooter>"
             "<oddHeader>&amp;LQ1&amp;CReport&amp;R&amp;P</oddHeader>"
             "<oddFooter>&amp;Cpage foot</oddFooter>"
             "</headerFooter></worksheet>").encode(),
    })
    r = extract_ooxml(xlsx, mime="application/vnd.openxmlformats-"
                      "officedocument.spreadsheetml.sheet")
    assert r["text"] == ("Budget\n"
                         "1\t2\nAna: check me\n"
                         "Q1 Report\n"
                         "page foot\n")


def test_pptx_notes_and_comments():
    """XSLFPowerPointExtractorDecorator order: slide shapes, slide
    comments, notes-slide shapes."""
    pptx = make_zip({
        "[Content_Types].xml":
            b'<Types xmlns="http://schemas.openxmlformats.org/package/'
            b'2006/content-types"><Override PartName='
            b'"/ppt/presentation.xml" ContentType="application/vnd.'
            b'openxmlformats-officedocument.presentationml.'
            b'presentation.main+xml"/></Types>',
        "ppt/slides/slide1.xml":
            (f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
             "<p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r>"
             "<a:t>Slide body</a:t></a:r></a:p></p:txBody></p:sp>"
             "</p:spTree></p:cSld></p:sld>").encode(),
        "ppt/slides/_rels/slide1.xml.rels":
            (f'<Relationships xmlns="{_REL_NS}">'
             '<Relationship Id="rId2" Type="t" '
             'Target="../notesSlides/notesSlide1.xml"/>'
             '<Relationship Id="rId3" Type="t" '
             'Target="../comments/comment1.xml"/>'
             "</Relationships>").encode(),
        "ppt/notesSlides/notesSlide1.xml":
            (f'<p:notes xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
             "<p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r>"
             "<a:t>Speaker notes</a:t></a:r></a:p></p:txBody></p:sp>"
             "</p:spTree></p:cSld></p:notes>").encode(),
        "ppt/comments/comment1.xml":
            (f'<p:cmLst xmlns:p="{_P_NS}"><p:cm authorId="0">'
             "<p:text>A remark</p:text></p:cm></p:cmLst>").encode(),
    })
    r = extract_ooxml(pptx, mime="application/vnd.openxmlformats-"
                      "officedocument.presentationml.presentation")
    assert r["text"] == "Slide body\nA remark\nSpeaker notes\n"


def test_odt_extract():
    r = extract_odf(ODT, mime="application/vnd.oasis.opendocument.text")
    assert r["text"] == "Heading\nBody one\ttabbed\n"
    assert r["title"] == "Odt Title"


def test_epub_extract():
    r = extract_epub(EPUB)
    assert r["text"] == "chapter one\nchapter two\n"
    assert r["title"] == "Book"


# ------------------------------------------------------- F1 recursion


@pytest.fixture(scope="module")
def nested_pages(spark):
    inner_zip = make_zip({"deep.txt": b"deep text"})
    rows = [
        ("http://e.com/a.zip",
         make_zip({"page.html":
                   b"<html><head><title>T</title></head><body>"
                   b"<p>inner page</p></body></html>",
                   "nested.zip": inner_zip})),
        ("http://e.com/plain.html",
         b"<html><body><p>top-level</p></body></html>"),
        ("http://e.com/note.txt.gz", gzip.compress(b"gz note")),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_recursive(spark, nested_pages):
    from tika_spark.pipeline.job import extract_recursive
    out = extract_recursive(nested_pages, mode="text").collect()
    by_url = {r["url"]: r for r in out}
    assert by_url["http://e.com/a.zip"]["mime"] == "application/zip"
    assert by_url["http://e.com/a.zip"]["text"] == \
        "page.html\nnested.zip\n"
    assert by_url["http://e.com/a.zip!/page.html"]["text"] \
        == "inner page\n"
    assert by_url["http://e.com/a.zip!/page.html"]["depth"] == 1
    assert by_url["http://e.com/a.zip!/nested.zip!/deep.txt"]["text"] \
        == "deep text\n"
    assert by_url["http://e.com/a.zip!/nested.zip!/deep.txt"]["depth"] == 2
    assert by_url["http://e.com/note.txt.gz!/note.txt"]["text"] \
        == "gz note\n"
    assert by_url["http://e.com/plain.html"]["depth"] == 0
    assert "children" not in out[0].asDict()


def test_recursive_parses_each_level_once(spark, nested_pages, tmp_path):
    # Guards the per-level persist: without it, every isEmpty() probe
    # and the final union re-execute ancestor levels' mapInArrow.
    # Count parsed rows via the trace_dir batch markers — the total
    # must equal the number of output rows (each row parsed once).
    import os
    from tika_spark.config import ExtractConfig
    from tika_spark.pipeline.job import extract_recursive
    trace = str(tmp_path / "trace")
    os.makedirs(trace)
    cfg = ExtractConfig(mode="text", trace_dir=trace)
    out = extract_recursive(nested_pages, config=cfg).collect()
    parsed = sum(int(f.rsplit("_", 1)[1]) for f in os.listdir(trace))
    assert parsed == len(out)


def test_depth_bound(spark):
    # a chain deeper than max_depth stops expanding, job still succeeds
    payload = b"bottom"
    for i in range(4):
        payload = make_zip({f"level{i}.zip" if i else "leaf.txt": payload})
    df = spark.createDataFrame([("u://chain.zip", payload)],
                               "url string, html binary")
    from tika_spark.pipeline.job import extract_recursive
    out = extract_recursive(df, mode="text", max_depth=2).collect()
    assert max(r["depth"] for r in out) == 2
    assert all(r["status"] in ("ok", "no_parser") for r in out)


def test_docx_through_pipeline(spark):
    from tika_spark.pipeline.job import extract
    df = spark.createDataFrame([("u://d.docx", DOCX)],
                               "url string, html binary")
    row = extract(df, mode="text").collect()[0]
    assert row["mime"].endswith("wordprocessingml.document")
    assert row["text"] == "Hello world\nSecond para\n"
    assert row["title"] == "My Doc"


# ---- ar / cpio (E6 tail) --------------------------------------------------

def _make_ar(entries):
    out = bytearray(b"!<arch>\n")
    for name, body in entries:
        hdr = f"{name:<16}{'0':<12}{'0':<6}{'0':<6}{'100644':<8}" \
              f"{len(body):<10}`\n".encode("ascii")
        out += hdr + body
        if len(body) & 1:
            out += b"\n"
    return bytes(out)


def _make_cpio(entries):
    import struct as st
    out = bytearray()

    def rec(name, body):
        nonlocal out
        hdr = b"070701" + b"0" * 48 \
            + f"{len(body):08X}".encode() + b"0" * 32 \
            + f"{len(name) + 1:08X}".encode() + b"0" * 8
        assert len(hdr) == 110
        out += hdr + name.encode() + b"\x00"
        out += b"\x00" * ((-len(out)) % 4)
        out += body
        out += b"\x00" * ((-len(out)) % 4)

    for name, body in entries:
        rec(name, body)
    rec("TRAILER!!!", b"")
    return bytes(out)


def test_ar_archive():
    from tika_spark.pkg.parser import extract_package
    ar = _make_ar([("hello.txt", b"hello ar"), ("b.txt", b"second")])
    assert detect(ar, None) == "application/x-archive"
    r = extract_package(ar, mime="application/x-archive")
    assert [c[0] for c in r["children"]] == ["hello.txt", "b.txt"]
    assert r["children"][0][1] == b"hello ar"


def test_ar_gnu_longnames():
    from tika_spark.pkg.parser import extract_package
    long = "a-very-long-member-name-beyond-16.txt"
    table = (long + "/\n").encode()
    ar = _make_ar([("//", table), ("/0", b"payload")])
    r = extract_package(ar, mime="application/x-archive")
    assert r["children"] == [(long, b"payload")]


def test_cpio_newc():
    from tika_spark.pkg.parser import extract_package
    cp = _make_cpio([("docs/a.txt", b"cpio body"), ("b.bin", b"\x01\x02")])
    assert detect(cp, None) == "application/x-cpio"
    r = extract_package(cp, mime="application/x-cpio")
    assert [c[0] for c in r["children"]] == ["docs/a.txt", "b.bin"]
    assert r["children"][0][1] == b"cpio body"


def test_ar_cpio_through_recursion(spark):
    from tika_spark.pipeline.job import extract_recursive
    ar = _make_ar([("page.html",
                    b"<html><body><p>ar inner</p></body></html>")])
    cp = _make_cpio([("note.txt", b"cpio note")])
    df = spark.createDataFrame([("u://x.a", ar), ("u://y.cpio", cp)],
                               "url string, html binary")
    out = {r["url"]: r for r in
           extract_recursive(df, mode="text").collect()}
    assert out["u://x.a!/page.html"]["text"] == "ar inner\n"
    assert out["u://y.cpio!/note.txt"]["text"] == "cpio note\n"


def test_xz_package_names_child_from_url():
    import lzma
    from tika_spark.pkg.parser import extract_package
    xz = lzma.compress(b"xz payload text")
    assert detect(xz, None) == "application/x-xz"
    r = extract_package(xz, "http://e.com/file.txt.xz", None, CFG)
    assert r["children"] == [("file.txt", b"xz payload text")]
    # legacy .lzma container (FORMAT_ALONE) through the same route
    lz = lzma.compress(b"alone body", format=lzma.FORMAT_ALONE)
    r2 = extract_package(lz, "http://e.com/old.lzma", None, CFG,
                         mime="application/x-lzma")
    assert r2["children"] == [("old", b"alone body")]
    # .txz keeps the inner tar extension so recursion re-detects tar
    r3 = extract_package(xz, "http://e.com/bundle.txz", None, CFG)
    assert r3["children"][0][0] == "bundle.tar"


def test_xz_bomb_guard():
    import lzma
    from tika_spark.pkg.parser import extract_package
    bomb = lzma.compress(b"\0" * 50_000_000)
    r = extract_package(bomb, None, None, CFG)
    total = sum(len(d) for _, d in r["children"])
    assert total <= max(1_000_000, 100 * len(bomb))


def test_xz_through_recursion(spark):
    import lzma
    from tika_spark.pipeline.job import extract_recursive
    xz = lzma.compress(b"<html><body><p>xz inner</p></body></html>")
    df = spark.createDataFrame([("u://p.html.xz", xz)],
                               "url string, html binary")
    out = {r["url"]: r for r in
           extract_recursive(df, mode="text").collect()}
    assert out["u://p.html.xz!/p.html"]["text"] == "xz inner\n"


# ----------------------------------------- E8/E9 widened type family


def _ooxml_zip(ct_main: str, main_part: str, payload: bytes) -> bytes:
    ct = (b'<Types xmlns="http://schemas.openxmlformats.org/package/'
          b'2006/content-types"><Override PartName="/' +
          main_part.encode() + b'" ContentType="' + ct_main.encode()
          + b'"/></Types>')
    return make_zip({"[Content_Types].xml": ct, main_part: payload})


_W_DOC = (b'<w:document xmlns:w="http://schemas.openxmlformats.org/'
          b'wordprocessingml/2006/main"><w:body>'
          b"<w:p><w:r><w:t>Template body</w:t></w:r></w:p>"
          b"</w:body></w:document>")


@pytest.mark.parametrize("ct,want", [
    ("application/vnd.openxmlformats-officedocument.wordprocessingml"
     ".template.main+xml",
     "application/vnd.openxmlformats-officedocument.wordprocessingml"
     ".template"),
    ("application/vnd.ms-word.document.macroEnabled.main+xml",
     "application/vnd.ms-word.document.macroenabled.12"),
    ("application/vnd.ms-word.template.macroEnabledTemplate.main+xml",
     "application/vnd.ms-word.template.macroenabled.12"),
])
def test_ooxml_word_variants_detect_and_parse(ct, want):
    z = _ooxml_zip(ct, "word/document.xml", _W_DOC)
    assert detect(z) == want
    r = extract_ooxml(z, mime=want)
    assert r["text"] == "Template body\n"


def test_ooxml_excel_macro_variant():
    sheet = (b'<worksheet xmlns="http://schemas.openxmlformats.org/'
             b'spreadsheetml/2006/main"><sheetData><row>'
             b'<c t="inlineStr"><is><t>cellval</t></is></c>'
             b"</row></sheetData></worksheet>")
    z = make_zip({
        "[Content_Types].xml":
            b'<Types><Override PartName="/xl/workbook.xml" ContentType='
            b'"application/vnd.ms-excel.sheet.macroEnabled.main+xml"/>'
            b"</Types>",
        "xl/workbook.xml": b"<workbook/>",
        "xl/worksheets/sheet1.xml": sheet,
    })
    want = "application/vnd.ms-excel.sheet.macroenabled.12"
    assert detect(z) == want
    assert extract_ooxml(z, mime=want)["text"] == "cellval\n"


def test_ooxml_slideshow_variant():
    slide = (b'<p:sld xmlns:a="http://schemas.openxmlformats.org/'
             b'drawingml/2006/main" xmlns:p="x"><a:t>Slide text</a:t>'
             b"</p:sld>")
    z = make_zip({
        "[Content_Types].xml":
            b'<Types><Override PartName="/ppt/presentation.xml" '
            b'ContentType="application/vnd.openxmlformats-'
            b'officedocument.presentationml.slideshow.main+xml"/>'
            b"</Types>",
        "ppt/presentation.xml": b"<p/>",
        "ppt/slides/slide1.xml": slide,
    })
    want = ("application/vnd.openxmlformats-officedocument"
            ".presentationml.slideshow")
    assert detect(z) == want
    assert extract_ooxml(z, mime=want)["text"] == "Slide text\n"


def test_odf_graphics_and_templates_detect():
    for t in ("graphics", "text-template", "presentation-template"):
        mime = "application/vnd.oasis.opendocument." + t
        z = make_zip({"mimetype": mime.encode(),
                      "content.xml":
                      b'<office:document-content xmlns:office='
                      b'"urn:oasis:names:tc:opendocument:xmlns:office:'
                      b'1.0" xmlns:text="urn:oasis:names:tc:'
                      b'opendocument:xmlns:text:1.0"><office:body>'
                      b"<text:p>odf body</text:p></office:body>"
                      b"</office:document-content>"})
        assert detect(z) == mime
        assert extract_odf(z, mime=mime)["text"] == "odf body\n"
        from tika_spark.pipeline.stages import route_for_mime
        assert route_for_mime(mime) == "odf"


def test_widened_office_globs():
    from tika_spark.mime import globs
    assert globs.match_name("u://a.dotx").endswith(
        "wordprocessingml.template")
    assert globs.match_name("u://a.xlsm") == \
        "application/vnd.ms-excel.sheet.macroenabled.12"
    assert globs.match_name("u://a.ppsx").endswith(
        "presentationml.slideshow")
    assert globs.match_name("u://a.odg") == \
        "application/vnd.oasis.opendocument.graphics"


def test_deb_routes_to_ar_handler():
    """A glob-specialized archive subtype (x-debian-package, jar, kmz)
    still dispatches to its byte-level handler family via the lattice
    — the name hint must never derail extraction."""
    ar = (b"!<arch>\n"
          + b"debian-binary   0           0     0     100644  4"
          + b"         `\n2.0\n")
    assert detect(ar, "http://x/pkg.deb") == \
        "application/x-debian-package"
    r = extract_package(ar, "http://x/pkg.deb", None, CFG,
                        mime="application/x-debian-package")
    assert r["status"] == "ok"
    assert [c[0] for c in r["children"]] == ["debian-binary"]
    assert r["children"][0][1] == b"2.0\n"


FLAT_ODT = (
    b'<?xml version="1.0" encoding="UTF-8"?>'
    b'<office:document '
    b'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    b'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    b'xmlns:dc="http://purl.org/dc/elements/1.1/" '
    b'office:mimetype="application/vnd.oasis.opendocument.text">'
    b"<office:meta><dc:title>Flat Title</dc:title></office:meta>"
    b"<office:body><office:text>"
    b"<text:h>Flat Heading</text:h><text:p>flat body<text:tab/>tabbed"
    b"</text:p></office:text></office:body></office:document>")


def test_flat_odf_detect_and_extract():
    """Flat (single-XML) ODF: root-element + office:mimetype detection
    and the shared content walker (FlatOpenDocumentParser parity)."""
    from tika_spark.pkg.odf import extract_flat_odf
    assert detect(FLAT_ODT) == \
        "application/vnd.oasis.opendocument.flat.text"
    assert detect(b"x", "http://h/a.fods") == "text/plain"  # text sniff wins
    r = extract_flat_odf(
        FLAT_ODT, mime="application/vnd.oasis.opendocument.flat.text")
    assert r["text"] == "Flat Heading\nflat body\ttabbed\n"
    assert r["title"] == "Flat Title"


def test_flat_odf_through_pipeline(spark):
    from tika_spark.pipeline.job import extract
    df = spark.createDataFrame([("http://e.com/doc.fodt", FLAT_ODT)],
                               "url string, html binary")
    row = extract(df, mode="text").collect()[0]
    assert row["mime"] == "application/vnd.oasis.opendocument.flat.text"
    assert row["text"] == "Flat Heading\nflat body\ttabbed\n"
    assert row["title"] == "Flat Title"


def make_xps(pages: list[list[str]], title: str | None = None) -> bytes:
    entries = {
        "FixedDocSeq.fdseq":
            b'<FixedDocumentSequence xmlns="http://schemas.microsoft.'
            b'com/xps/2005/06"><DocumentReference Source="/Documents/'
            b'1/FixedDoc.fdoc"/></FixedDocumentSequence>',
    }
    if title:
        entries["docProps/core.xml"] = (
            '<cp:coreProperties xmlns:cp="http://schemas.openxml'
            'formats.org/package/2006/metadata/core-properties" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<dc:title>{title}</dc:title></cp:coreProperties>"
        ).encode()
    for i, runs in enumerate(pages, 1):
        glyphs = "".join(
            f'<Glyphs UnicodeString="{r}" OriginX="0" OriginY="{20*j}"'
            ' FontRenderingEmSize="12" FontUri="/f.odttf"/>'
            for j, r in enumerate(runs))
        entries[f"Documents/1/Pages/{i}.fpage"] = (
            '<FixedPage xmlns="http://schemas.microsoft.com/xps/2005'
            f'/06" Width="816" Height="1056">{glyphs}</FixedPage>'
        ).encode()
    return make_zip(entries)


def test_xps_detect_and_extract():
    """XPS: .fdseq container refinement + Glyphs UnicodeString text in
    page order; CoreProperties title."""
    from tika_spark.pkg.xps import extract_xps
    xps = make_xps([["Page one line", "second run"], ["Page two"]],
                   title="XpsDoc")
    assert detect(xps) == "application/vnd.ms-xpsdocument"
    r = extract_xps(xps)
    assert r["text"] == "Page one line\nsecond run\nPage two\n"
    assert r["title"] == "XpsDoc"


def test_xps_through_pipeline(spark):
    from tika_spark.pipeline.job import extract
    xps = make_xps([["hello xps"]])
    df = spark.createDataFrame([("http://e.com/d.xps", xps)],
                               "url string, html binary")
    row = extract(df, mode="text").collect()[0]
    assert row["mime"] == "application/vnd.ms-xpsdocument"
    assert row["text"] == "hello xps\n"


class TestIWork:
    """iWork package family (iwork/IWorkPackageParser.java + the three
    content handlers): root-QName type detection, per-format text."""

    @staticmethod
    def _zip(entries):
        import io
        import zipfile
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for n, b in entries.items():
                zf.writestr(zipfile.ZipInfo(n, (1980, 1, 1, 0, 0, 0)), b)
        return buf.getvalue()

    def _run(self, name, payload):
        import pandas as pd

        from tika_spark.pipeline.stages import ExtractConfig, \
            process_batch
        pdf = pd.DataFrame({"url": [name],
                            "warc_ts": [pd.Timestamp("2020-01-01")],
                            "html": [payload]})
        return process_batch(pdf, ExtractConfig(mode="text"), 0).iloc[0]

    def test_pages(self):
        xml = ('<?xml version="1.0"?><sl:document xmlns:sl='
               '"http://developer.apple.com/namespaces/sl" xmlns:sf='
               '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
               '"http://developer.apple.com/namespaces/sfa">'
               '<sl:publication-info><sf:title>'
               '<sl:string sfa:string="My Pages Doc"/></sf:title>'
               '<sf:authors><sl:string sfa:string="Writer"/>'
               '</sf:authors></sl:publication-info>'
               '<sf:page-start/><sf:p>First paragraph text.</sf:p>'
               '<sf:p>Second one.</sf:p></sl:document>')
        r = self._run("a.pages", self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.xml": xml}))
        assert r.mime == "application/vnd.apple.pages"
        assert r.title == "My Pages Doc"
        assert r.text == "First paragraph text.\nSecond one.\n"
        md = dict(r.metadata)
        assert md["Author"] == ["Writer"]
        assert md["xmpTP:NPages"] == ["1"]

    def test_numbers_table(self):
        xml = ('<?xml version="1.0"?><ls:document xmlns:ls='
               '"http://developer.apple.com/namespaces/ls" xmlns:sf='
               '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
               '"http://developer.apple.com/namespaces/sfa">'
               '<ls:workspace ls:workspace-name="Sheet1">'
               '<sf:text><sf:p>Cell note</sf:p></sf:text>'
               '<sf:tabular-model><sf:grid sf:numcols="2"/>'
               '<sf:ct sfa:s="a1"/><sf:ct sfa:s="b1"/>'
               '<sf:n sf:v="3"/><sf:n sf:v="4"/></sf:tabular-model>'
               '</ls:workspace></ls:document>')
        r = self._run("b.numbers", self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.xml": xml}))
        assert r.mime == "application/vnd.apple.numbers"
        assert r.text == "Cell note\na1\tb1\n3\t4\n"
        assert dict(r.metadata)["sheetNames"] == ["Sheet1"]

    def test_keynote(self):
        xml = ('<?xml version="1.0"?><key:presentation xmlns:key='
               '"http://developer.apple.com/namespaces/keynote2" '
               'xmlns:sf="http://developer.apple.com/namespaces/sf" '
               'xmlns:sfa="http://developer.apple.com/namespaces/sfa">'
               '<key:metadata><key:title>'
               '<key:string sfa:string="Deck"/></key:title>'
               '</key:metadata><key:size sfa:w="1024" sfa:h="768"/>'
               '<key:slide><key:title-placeholder><sf:text-body>'
               'Slide One Title</sf:text-body></key:title-placeholder>'
               '<key:body-placeholder><sf:text-body>Body text line'
               '</sf:text-body></key:body-placeholder></key:slide>'
               '</key:presentation>')
        r = self._run("c.key", self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.apxl": xml}))
        assert r.mime == "application/vnd.apple.keynote"
        assert r.title == "Deck"
        assert r.text == "Slide One Title\nBody text line\n"
        md = dict(r.metadata)
        assert md["slide-count"] == ["1"]
        assert md["slides-width"] == ["1024"]

    def test_unknown_root_is_generic_iwork(self):
        r = self._run("d.pages", self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.xml": "<unknown/>"}))
        assert r.mime == "application/vnd.apple.iwork"
        assert r.status == "no_parser"


class TestIWorkHardening:
    """Round-2 review fixes: menu-choices scoping, partial-row flush,
    zip-bomb cap, XPS page-cap observability."""

    def _zip(self, entries, compress=zipfile.ZIP_DEFLATED):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", compress) as zf:
            for n, b in entries.items():
                zf.writestr(n, b)
        return buf.getvalue()

    def test_numbers_menu_choices_inside_table(self):
        from tika_spark.pkg.iwork import extract_iwork
        xml = ('<?xml version="1.0"?><ls:document xmlns:ls='
               '"http://developer.apple.com/namespaces/ls" xmlns:sf='
               '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
               '"http://developer.apple.com/namespaces/sfa">'
               '<ls:workspace ls:workspace-name="S">'
               '<sf:tabular-model><sf:grid sf:numcols="2"/>'
               '<sf:menu-choices><sf:t sfa:ID="m1">'
               '<sf:ct sfa:s="Choice"/></sf:t></sf:menu-choices>'
               '<sf:ct sfa:s="a"/><sf:proxied-cell-ref sfa:IDREF="m1"/>'
               '</sf:tabular-model></ls:workspace></ls:document>')
        r = extract_iwork(self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.xml": xml}))
        # the menu string resolves the proxied cell and is NOT a
        # phantom first cell
        assert r["text"] == "a\tChoice\n"

    def test_pages_attachment_partial_row_flushed(self):
        from tika_spark.pkg.iwork import extract_iwork
        xml = ('<?xml version="1.0"?><sl:document xmlns:sl='
               '"http://developer.apple.com/namespaces/sl" xmlns:sf='
               '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
               '"http://developer.apple.com/namespaces/sfa">'
               '<sf:page-start/>'
               '<sf:attachment sfa:ID="t1" sf:kind="tabular-attachment">'
               '<sf:ct sfa:s="c1"/><sf:ct sfa:s="c2"/>'
               '<sf:ct sfa:s="c3"/><sf:ct sfa:s="c4"/></sf:attachment>'
               '<sf:attachment-ref sfa:IDREF="t1"/></sl:document>')
        r = extract_iwork(self._zip(
            {"buildVersionHistory.plist": "<plist/>",
             "index.xml": xml}))
        assert r["text"] == "c1\tc2\tc3\nc4\n"  # c4 not dropped

    def test_iwork_zip_bomb_capped(self):
        import pandas as pd

        from tika_spark.pipeline.stages import process_batch
        big = "<sf:p>" + ("x " * 2_000_000) + "</sf:p>"
        xml = ('<?xml version="1.0"?><sl:document xmlns:sl='
               '"http://developer.apple.com/namespaces/sl" xmlns:sf='
               '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
               '"http://developer.apple.com/namespaces/sfa">'
               '<sf:page-start/>' + big + '</sl:document>')
        blob = self._zip({"buildVersionHistory.plist": "<plist/>",
                          "index.xml": xml})
        assert len(blob) < 100_000  # it really is a bomb
        r = process_batch(pd.DataFrame({"url": ["bomb.pages"],
                                        "html": [blob]}),
                          ExtractConfig()).iloc[0]
        assert r["status"] == "output_limit"
        assert len(r["text"]) <= 1_000_000

    def test_xps_page_cap_flips_status(self):
        from tika_spark.pkg.xps import extract_xps
        page = ('<FixedPage xmlns="x"><Glyphs UnicodeString="pg"/>'
                '</FixedPage>')
        entries = {"Documents/1/Pages/%d.fpage" % i: page
                   for i in range(1, 1002)}
        r = extract_xps(self._zip(entries))
        assert r["status"] == "output_limit"
        # within the cap the text is still extracted
        assert r["text"].startswith("pg\n")


def test_zip_bad_member_keeps_good_ones():
    """A corrupt member must not discard already-extracted entries."""
    import io
    import zipfile

    from tika_spark.pkg.parser import extract_package
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("good1.txt", b"one")
        zf.writestr("bad.txt", b"will corrupt")
        zf.writestr("good2.txt", b"two")
    blob = bytearray(buf.getvalue())
    # corrupt bad.txt's stored data (flip bytes after its header)
    idx = bytes(blob).find(b"will corrupt")
    blob[idx:idx + 4] = b"XXXX"  # CRC mismatch on read
    r = extract_package(bytes(blob))
    names = [n for n, _ in r["children"]]
    assert "good1.txt" in names and "good2.txt" in names


# ------------------------------------------------------------- 7z --


class Test7z:
    """pkg/sevenz.py: from-scratch 7z container walk (the reference's
    commons-compress SevenZFile route, PackageParser.java:40-62)."""

    FILES = [("a.txt", b"hello seven zip" * 40),
             ("dir/b.html", b"<p>inner</p>"),
             ("empty.txt", b""),
             ("bin.dat", bytes(range(256)) * 8)]

    def test_roundtrip_all_codecs(self):
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.pkg.sevenz import sevenz_children
        for codec in ("copy", "lzma1", "lzma2", "bzip2", "deflate"):
            for solid in (False, True):
                blob = make_7z(self.FILES, codec=codec, solid=solid)
                kids, trunc = sevenz_children(blob, 10 ** 8)
                assert not trunc
                assert dict(kids) == dict(self.FILES), (codec, solid)

    def test_encoded_header(self):
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.pkg.sevenz import sevenz_children
        blob = make_7z(self.FILES, codec="lzma2", solid=True,
                       encoded_header=True)
        kids, _ = sevenz_children(blob, 10 ** 8)
        assert dict(kids) == dict(self.FILES)

    def test_bcj_lzma_bind_pair_chain(self):
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.pkg.sevenz import sevenz_children
        payload = b"\x31\xc0\xe8\x10\x00\x00\x00\x90" * 300
        blob = make_7z([("prog.bin", payload)], codec="bcj-lzma1",
                       encoded_header=True)
        kids, _ = sevenz_children(blob, 10 ** 8)
        assert dict(kids) == {"prog.bin": payload}

    def test_budget_truncation(self):
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.pkg.sevenz import sevenz_children
        blob = make_7z(self.FILES, codec="lzma2", solid=True)
        kids, trunc = sevenz_children(blob, 64)
        assert trunc
        assert sum(len(p) for _, p in kids) <= 64

    def test_corrupt_raises(self):
        import pytest as _pytest

        from tika_spark.pkg.sevenz import SevenZError, sevenz_children
        # truncated start header
        with _pytest.raises(SevenZError):
            sevenz_children(b"7z\xbc\xaf\x27\x1c" + b"\x00" * 10, 10 ** 6)
        # header offset past the end of the blob
        bad = (b"7z\xbc\xaf\x27\x1c\x00\x04" + b"\x00" * 4
               + (10 ** 6).to_bytes(8, "little")
               + (64).to_bytes(8, "little") + b"\x00" * 4)
        with _pytest.raises(SevenZError):
            sevenz_children(bad, 10 ** 6)

    def test_extract_package_route(self):
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.mime.detector import detect
        from tika_spark.pkg.parser import extract_package
        blob = make_7z([("x.txt", b"inner"), ("y.txt", b"more")])
        assert detect(blob, "a.7z") == "application/x-7z-compressed"
        r = extract_package(blob)
        assert r["status"] == "ok"
        assert r["text"] == "x.txt\ny.txt\n"
        assert dict(r["children"]) == {"x.txt": b"inner",
                                       "y.txt": b"more"}

    def test_unsupported_codec_isolates_folder(self):
        """A folder with an unknown codec drops only its members."""
        from tika_spark.fixtures.sevenzgen import make_7z
        from tika_spark.pkg.sevenz import sevenz_children
        blob = bytearray(make_7z([("k.txt", b"keep me")], codec="lzma2",
                                 encoded_header=False))
        # clobber the LZMA2 codec id (0x21) in the header to a bogus
        # id: kFolder(0x0B) nFolders=1 ext=0 nCoders=1 flags=0x21 id
        idx = bytes(blob).rfind(b"\x0b\x01\x00\x01\x21\x21")
        assert idx > 0
        blob[idx + 5] = 0x7E
        kids, _ = sevenz_children(bytes(blob), 10 ** 8)
        assert dict(kids) == {"k.txt": b""}  # folder dropped, row kept


class TestImplode:
    BASE = ("/root/reference/tika-parsers/src/test/resources/"
            "test-documents")

    def test_every_member_crc_exact(self):
        import io
        import os
        import zipfile
        import zlib

        import pytest as _p

        from tika_spark.pkg.parser import _zip_raw_member, explode
        p = os.path.join(self.BASE, "moby.zip")
        if not os.path.isfile(p):
            _p.skip("corpus not present")
        with open(p, "rb") as f:
            data = f.read()
        zf = zipfile.ZipFile(io.BytesIO(data))
        checked = 0
        for info in zf.infolist():
            if info.compress_type != 6:
                continue
            out = explode(_zip_raw_member(data, info),
                          info.file_size, info.flag_bits)
            assert (zlib.crc32(out) & 0xFFFFFFFF) == info.CRC, \
                info.filename
            checked += 1
        assert checked >= 100

    def test_imploded_zip_yields_children(self):
        import os

        import pytest as _p

        from tika_spark.pkg.parser import extract_package
        p = os.path.join(self.BASE, "moby.zip")
        if not os.path.isfile(p):
            _p.skip("corpus not present")
        with open(p, "rb") as f:
            out = extract_package(f.read(), mime="application/zip")
        names = [c[0] for c in out["children"]]
        assert "README" in names and "moby.0" in names
        readme = dict((c[0], c[1]) for c in out["children"])["README"]
        assert readme.startswith(b"Moby Dick\nby Herman Melville")
