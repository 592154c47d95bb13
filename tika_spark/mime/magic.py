"""Magic-byte detection rules.

Semantics re-derived from the reference (tika-core/.../detect/
MagicDetector.java:153-206, mime/Magic.java:67-79): each rule is a set
of (offset-range, pattern, optional mask) clauses; a rule matches if
any clause matches anywhere in its offset window of the document
prefix; rules are evaluated in (priority desc, pattern length desc)
order and the first match wins. Only the first MAGIC_PREFIX (64 KiB,
MimeTypes.getMinLength()) bytes are ever inspected
(mime/MimeTypes.java:465-469).

The rule table below is a from-scratch subset of tika-mimetypes.xml
covering the web-crawl slice (html/xml/pdf/text/feeds/archives/images)
plus common container signatures routed to status rows.
"""

from __future__ import annotations

from collections import defaultdict
from typing import NamedTuple

from tika_spark.config import MAGIC_PREFIX


class Clause(NamedTuple):
    lo: int            # window start (inclusive)
    hi: int            # window end (inclusive) for the pattern START
    pattern: bytes
    mask: bytes | None = None
    ci: bool = False   # case-insensitive ASCII match


class MagicRule(NamedTuple):
    mime: str
    priority: int
    clauses: tuple
    # optional AND-clauses (the nested <match> children of
    # tika-mimetypes.xml): the rule fires only if ANY of ``clauses``
    # matches AND every clause of ``confirm`` (when set) also matches
    confirm: tuple | None = None


def _m(mime: str, priority: int, *clauses: Clause,
       confirm: Clause | tuple | None = None) -> MagicRule:
    if isinstance(confirm, Clause):
        confirm = (confirm,)
    return MagicRule(mime, priority, tuple(clauses), confirm)


# HTML tag probes, window 0:64, case-insensitive — mirrors the
# reference's priority-40 html magic block (tika-mimetypes.xml:3732-3762).
_HTML_TOKENS = (
    b"<!DOCTYPE HTML", b"<HTML", b"<HEAD", b"<BODY", b"<TITLE",
    b"<h1", b"<H1", b"<!doctype html",
)

MAGIC_RULES: list[MagicRule] = [
    _m("application/pdf", 50, Clause(0, 0, b"%PDF-")),
    _m("application/xml", 50,
       Clause(0, 0, b"<?xml"),
       Clause(0, 0, b"\xef\xbb\xbf<?xml"),          # UTF-8 BOM
       Clause(0, 0, b"\xff\xfe<\x00?\x00x\x00m\x00l\x00"),  # UTF-16LE BOM
       Clause(0, 0, b"\xfe\xff\x00<\x00?\x00x\x00m\x00l")), # UTF-16BE BOM
    _m("application/x-gzip", 45, Clause(0, 0, b"\x1f\x8b")),
    _m("application/zip", 45, Clause(0, 0, b"PK\x03\x04")),
    _m("application/x-bzip2", 45, Clause(0, 0, b"BZh")),
    # POSIX tar: "ustar" magic at offset 257 (tika-mimetypes.xml tar block)
    _m("application/x-tar", 45, Clause(257, 257, b"ustar")),
    _m("application/x-archive", 45, Clause(0, 0, b"!<arch>\n")),
    _m("application/x-cpio", 45, Clause(0, 0, b"070701"),
       Clause(0, 0, b"070702")),
    _m("application/rtf", 50, Clause(0, 0, b"{\\rtf")),
    _m("image/png", 50, Clause(0, 0, b"\x89PNG\r\n\x1a\n")),
    _m("image/gif", 50, Clause(0, 0, b"GIF87a"), Clause(0, 0, b"GIF89a")),
    _m("image/jpeg", 50, Clause(0, 0, b"\xff\xd8\xff")),
    # "BM" alone false-positives on text ("BMW to Make…",
    # TestMimeTypes.java:251 testBMPfp.txt → text/plain): the
    # reference confirms planes == 1 at offset 26 and a legal bit
    # depth at 28 (tika-mimetypes.xml image/x-ms-bmp nested matches)
    _m("image/bmp", 50,
       *[Clause(28, 28, bytes([b, 0]))
         for b in (0, 1, 4, 8, 16, 24, 32)],
       confirm=(Clause(0, 0, b"BM"), Clause(26, 26, b"\x01\x00"))),
    _m("image/tiff", 50, Clause(0, 0, b"II*\x00"),
       Clause(0, 0, b"MM\x00*")),
    _m("video/x-flv", 50, Clause(0, 0, b"FLV\x01")),
    _m("image/vnd.adobe.photoshop", 50, Clause(0, 0, b"8BPS")),
    _m("application/java-vm", 50, Clause(0, 0, b"\xca\xfe\xba\xbe")),
    _m("application/x-font-ttf", 50, Clause(0, 0, b"\x00\x01\x00\x00"),
       Clause(0, 0, b"true\x00"), Clause(0, 0, b"OTTO")),
    _m("audio/mpeg", 50, Clause(0, 0, b"ID3"),
       Clause(0, 0, b"\xff\xfb"), Clause(0, 0, b"\xff\xfa")),
    # ADTS AAC: 0xFFF sync with layer bits 00 (masked — MP3 frames
    # have layer 01, so \xff\xfa/\xfb never land here)
    _m("audio/x-aac", 50, Clause(0, 0, b"\xff\xf0", mask=b"\xff\xf6")),
    _m("application/x-tika-msoffice", 45,
       Clause(0, 0, b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1")),
    # CHM help file: "ITSF" + version 3 LE (tika-mimetypes.xml
    # vnd.ms-htmlhelp block)
    _m("application/vnd.ms-htmlhelp", 50,
       Clause(0, 0, b"ITSF\x03\x00\x00\x00")),
    # a comment at offset 0 reads as HTML; detector.refine_xml_root
    # then gives a comment-led feed or SVG its root type
    _m("text/html", 40, *[Clause(0, 64, t, ci=True) for t in _HTML_TOKENS],
       Clause(0, 0, b"<!--")),
    # mbox before rfc822: "From " (envelope) vs "From:" (header) —
    # tika-mimetypes.xml mbox/message blocks
    _m("application/mbox", 40, Clause(0, 0, b"From ")),
    _m("message/rfc822", 40,
       Clause(0, 0, b"Relay-Version:"), Clause(0, 0, b"Return-Path:"),
       Clause(0, 0, b"Received:"), Clause(0, 0, b"Message-ID:"),
       Clause(0, 0, b"MIME-Version:"), Clause(0, 0, b"From:"),
       # POP3 store artifact leading messages ripped out of Foxmail/
       # UIDL-tracking mail stores (beyond the reference's token list;
       # cannot fire on anything but mail)
       Clause(0, 0, b"X-Uidl:")),
    # UTF BOMs with no other signature -> text/plain (MimeDetectionTest BOM cases)
    _m("text/plain", 30,
       Clause(0, 0, b"\xef\xbb\xbf"),
       Clause(0, 0, b"\xff\xfe"),
       Clause(0, 0, b"\xfe\xff")),

    # ---- widened web-crawl set (VERDICT r1 task 5): media containers,
    # fonts, databases, modern compression. Priorities follow
    # tika-mimetypes.xml where the reference has the type; types the
    # 1.0-era table lacks (webm/woff/webp/avif/sqlite/wasm/zstd) use
    # their registered IANA names.

    # ISO-BMFF "ftyp" brands at offset 4 (specific brand beats the
    # generic video/quicktime ftyp rule, tika-mimetypes.xml:4107)
    _m("audio/mp4", 60, Clause(4, 4, b"ftypM4A"), Clause(4, 4, b"ftypM4B")),
    _m("video/3gpp", 60, Clause(4, 4, b"ftyp3gp")),
    _m("image/avif", 60, Clause(4, 4, b"ftypavif")),
    _m("image/heic", 60, Clause(4, 4, b"ftypheic"),
       Clause(4, 4, b"ftypheix")),
    _m("video/mp4", 60,
       Clause(4, 4, b"ftypisom"), Clause(4, 4, b"ftypiso2"),
       Clause(4, 4, b"ftypmp41"), Clause(4, 4, b"ftypmp42"),
       Clause(4, 4, b"ftypavc1"), Clause(4, 4, b"ftypdash"),
       Clause(4, 4, b"ftypMSNV")),
    # generic ISO-BMFF / classic QuickTime atoms (tika-mimetypes.xml:3405)
    _m("video/quicktime", 50, Clause(4, 4, b"moov"),
       Clause(4, 4, b"mdat"), Clause(4, 4, b"ftyp")),
    # EBML header; DocType string distinguishes WebM from Matroska
    _m("video/webm", 60, Clause(0, 0, b"\x1aE\xdf\xa3"),
       confirm=Clause(4, 40, b"webm")),
    _m("video/x-matroska", 50, Clause(0, 0, b"\x1aE\xdf\xa3")),
    # Ogg: vorbis/theora first-page probes beat the generic container
    # (tika-mimetypes.xml:2960 audio/ogg priority 60)
    _m("audio/ogg", 60, Clause(0, 0, b"OggS"),
       confirm=Clause(28, 28, b"\x01vorbis")),
    _m("video/ogg", 60, Clause(0, 0, b"OggS"),
       confirm=Clause(28, 28, b"\x80theora")),
    _m("application/ogg", 50, Clause(0, 0, b"OggS")),
    # WebVTT signature (with or without a UTF-8 BOM)
    _m("text/vtt", 50, Clause(0, 0, b"WEBVTT")),
    _m("text/vtt", 50, Clause(0, 0, b"\xef\xbb\xbfWEBVTT")),
    # RIFF containers (masked four-CC at 8, tika-mimetypes.xml:3165,4215)
    _m("image/webp", 50,
       Clause(0, 0, b"RIFF\x00\x00\x00\x00WEBP",
              mask=b"\xff\xff\xff\xff\x00\x00\x00\x00\xff\xff\xff\xff")),
    _m("video/x-msvideo", 50,
       Clause(0, 0, b"RIFF\x00\x00\x00\x00AVI ",
              mask=b"\xff\xff\xff\xff\x00\x00\x00\x00\xff\xff\xff\xff")),
    _m("audio/x-wav", 20,
       Clause(0, 0, b"RIFF\x00\x00\x00\x00WAVE",
              mask=b"\xff\xff\xff\xff\x00\x00\x00\x00\xff\xff\xff\xff")),
    _m("audio/x-flac", 50, Clause(0, 0, b"fLaC")),
    _m("audio/midi", 20, Clause(0, 0, b"MThd")),
    _m("font/woff", 50, Clause(0, 0, b"wOFF")),
    _m("font/woff2", 50, Clause(0, 0, b"wOF2")),
    _m("image/x-icon", 50, Clause(0, 0, b"\x00\x00\x01\x00")),
    _m("application/x-sqlite3", 50, Clause(0, 0, b"SQLite format 3\x00")),
    _m("application/wasm", 50, Clause(0, 0, b"\x00asm")),
    _m("application/x-7z-compressed", 50,
       Clause(0, 0, b"7z\xbc\xaf\x27\x1c")),
    _m("application/x-xz", 50, Clause(0, 0, b"\xfd7zXZ\x00")),
    _m("application/zstd", 50, Clause(0, 0, b"\x28\xb5\x2f\xfd")),
    # PE/ELF executables (reference routes *.exe by glob only;
    # the magic closes the no-name gap)
    _m("application/x-msdownload", 20, Clause(0, 0, b"MZ")),
    _m("application/x-elf", 20, Clause(0, 0, b"\x7fELF")),
    # columnar-data files a training pipeline meets on disk
    _m("application/x-parquet", 50, Clause(0, 0, b"PAR1")),
    # scientific/CAD/mail-wrapper formats the reference names
    # (dwg/DWGParser.java, hdf/netcdf parsers, mail TNEF)
    _m("image/vnd.dwg", 50,
       Clause(0, 0, b"AC1014"), Clause(0, 0, b"AC1015"),
       Clause(0, 0, b"AC1018"), Clause(0, 0, b"AC1021"),
       Clause(0, 0, b"AC1024"), Clause(0, 0, b"AC1012")),
    _m("application/x-netcdf", 50, Clause(0, 0, b"CDF\x01"),
       Clause(0, 0, b"CDF\x02")),
    _m("application/x-hdf", 50, Clause(0, 0, b"\x89HDF\r\n\x1a\n"),
       Clause(0, 0, b"\x0e\x03\x13\x01")),
    _m("application/vnd.ms-tnef", 50,
       Clause(0, 0, b"\x78\x9f\x3e\x22")),

    # ---- bulk signature widening (round 2): archives, legacy media,
    # documents, science formats. Offsets/bytes are the published
    # format signatures (same set tika-mimetypes.xml encodes).
    _m("application/x-rar-compressed", 50,
       Clause(0, 0, b"Rar!\x1a\x07\x00"),       # RAR 1.5-4.x
       Clause(0, 0, b"Rar!\x1a\x07\x01\x00")),  # RAR 5+
    _m("application/vnd.ms-cab-compressed", 50,
       Clause(0, 0, b"MSCF\x00\x00\x00\x00")),
    _m("application/x-lzip", 50, Clause(0, 0, b"LZIP")),
    _m("application/x-lz4", 50, Clause(0, 0, b"\x04\x22\x4d\x18")),
    _m("application/x-compress", 50, Clause(0, 0, b"\x1f\x9d")),
    _m("application/x-lha", 40, Clause(2, 2, b"-lh"), ),
    _m("application/x-arj", 50, Clause(0, 0, b"\x60\xea")),
    _m("application/x-rpm", 50, Clause(0, 0, b"\xed\xab\xee\xdb")),
    _m("application/x-iso9660-image", 50,
       Clause(32769, 32769, b"CD001")),
    _m("application/x-chrome-package", 50, Clause(0, 0, b"Cr24")),
    _m("application/x-stuffit", 50, Clause(0, 0, b"StuffIt "),
       Clause(0, 0, b"SIT!")),
    _m("application/warc", 50, Clause(0, 0, b"WARC/1.")),
    _m("application/x-shockwave-flash", 50,
       Clause(0, 0, b"FWS"), Clause(0, 0, b"CWS"), Clause(0, 0, b"ZWS")),
    _m("application/postscript", 50, Clause(0, 0, b"%!PS-Adobe-")),
    _m("image/vnd.djvu", 50, Clause(0, 0, b"AT&TFORM")),
    _m("application/dicom", 50, Clause(128, 128, b"DICM")),
    _m("image/jp2", 50,
       Clause(0, 0, b"\x00\x00\x00\x0cjP  \r\n\x87\n")),
    _m("image/jxl", 50, Clause(0, 0, b"\xff\x0a"),
       Clause(0, 0, b"\x00\x00\x00\x0cJXL \r\n\x87\n")),
    _m("image/wmf", 50, Clause(0, 0, b"\xd7\xcd\xc6\x9a"),
       Clause(0, 0, b"\x01\x00\x09\x00")),
    _m("image/emf", 50, Clause(0, 0, b"\x01\x00\x00\x00"),
       confirm=Clause(40, 40, b" EMF")),
    _m("image/x-portable-bitmap", 40, Clause(0, 0, b"P1\n"),
       Clause(0, 0, b"P4")),
    _m("image/x-portable-graymap", 40, Clause(0, 0, b"P2\n"),
       Clause(0, 0, b"P5")),
    _m("image/x-portable-pixmap", 40, Clause(0, 0, b"P3\n"),
       Clause(0, 0, b"P6")),
    _m("image/x-xpixmap", 50, Clause(0, 0, b"/* XPM */")),
    _m("image/icns", 50, Clause(0, 0, b"icns")),
    _m("audio/x-aiff", 50,
       Clause(0, 0, b"FORM\x00\x00\x00\x00AIFF",
              mask=b"\xff\xff\xff\xff\x00\x00\x00\x00\xff\xff\xff\xff"),
       Clause(0, 0, b"FORM\x00\x00\x00\x00AIFC",
              mask=b"\xff\xff\xff\xff\x00\x00\x00\x00\xff\xff\xff\xff")),
    _m("audio/basic", 50, Clause(0, 0, b".snd")),
    _m("audio/amr", 50, Clause(0, 0, b"#!AMR\n")),
    _m("audio/amr-wb", 60, Clause(0, 0, b"#!AMR-WB\n")),
    _m("audio/x-musepack", 50, Clause(0, 0, b"MPCK"),
       Clause(0, 0, b"MP+")),
    _m("audio/x-ape", 50, Clause(0, 0, b"MAC ")),
    _m("audio/x-wavpack", 50, Clause(0, 0, b"wvpk")),
    _m("video/x-ms-asf", 50,
       Clause(0, 0, b"\x30\x26\xb2\x75\x8e\x66\xcf\x11")),
    _m("application/vnd.rn-realmedia", 50, Clause(0, 0, b".RMF")),
    _m("video/mpeg", 50, Clause(0, 0, b"\x00\x00\x01\xba"),
       Clause(0, 0, b"\x00\x00\x01\xb3")),
    # MPEG-TS: 0x47 sync byte repeating at the 188-byte packet stride
    # (four packets checked, as the reference's mp2t block does)
    _m("video/mp2t", 40, Clause(0, 0, b"\x47"),
       confirm=(Clause(188, 188, b"\x47"), Clause(376, 376, b"\x47"),
                Clause(564, 564, b"\x47"))),
    _m("application/mxf", 50,
       Clause(0, 0, b"\x06\x0e\x2b\x34\x02\x05\x01\x01")),
    # PalmDOC/Mobipocket: type/creator four-CCs at offset 60
    _m("application/x-mobipocket-ebook", 50,
       Clause(60, 60, b"BOOKMOBI")),
    _m("application/x-palm-database", 40, Clause(60, 60, b"TEXtREAd")),
    _m("application/vnd.tcpdump.pcap", 50,
       Clause(0, 0, b"\xd4\xc3\xb2\xa1"), Clause(0, 0, b"\xa1\xb2\xc3\xd4")),
    _m("application/x-pcapng", 50, Clause(0, 0, b"\x0a\x0d\x0d\x0a")),
    _m("application/x-matlab-data", 50, Clause(0, 0, b"MATLAB")),
    _m("application/fits", 50, Clause(0, 0, b"SIMPLE  =")),
    _m("application/x-dex", 50, Clause(0, 0, b"dex\n")),
    _m("application/x-mach-o", 40,
       Clause(0, 0, b"\xfe\xed\xfa\xce"), Clause(0, 0, b"\xfe\xed\xfa\xcf"),
       Clause(0, 0, b"\xcf\xfa\xed\xfe"), Clause(0, 0, b"\xca\xfe\xba\xbf")),
    _m("application/x-plist", 50, Clause(0, 0, b"bplist00")),
    _m("application/x-bittorrent", 50, Clause(0, 0, b"d8:announce")),
    _m("application/x-pem-file", 50, Clause(0, 0, b"-----BEGIN ")),
    _m("application/x-ms-shortcut", 50,
       Clause(0, 0, b"\x4c\x00\x00\x00\x01\x14\x02\x00")),
    _m("text/calendar", 50, Clause(0, 0, b"BEGIN:VCALENDAR")),
    _m("text/x-vcard", 50, Clause(0, 0, b"BEGIN:VCARD")),
    _m("application/vnd.apple.mpegurl", 40, Clause(0, 0, b"#EXTM3U")),
    _m("application/x-hwp-v5", 50,
       Clause(0, 0, b"HWP Document File")),

    # --- round-2 long-tail widening: the remaining reference magic
    # blocks not covered by container/root-XML refinement
    # (tika-mimetypes.xml; type list cross-checked block by block) ---
    _m("application/mac-binhex40", 50,
       Clause(11, 11, b"must be converted with BinHex")),
    _m("application/vnd.lotus-wordpro", 50,
       Clause(0, 0, b"WordPro\x00"), Clause(0, 0, b"WordPro\r\xfb")),
    _m("application/vnd.mif", 50,
       Clause(0, 0, b"<MakerFile"), Clause(0, 0, b"<MIFFile"),
       Clause(0, 0, b"<MakerDictionary"),
       Clause(0, 0, b"<MakerScreenFont"),
       Clause(0, 0, b"<MML"), Clause(0, 0, b"<Book"),
       Clause(0, 0, b"<Maker")),
    # Symbian SIS: UID3 0x10000419 little-endian at offset 8
    _m("application/vnd.symbian.install", 50,
       Clause(8, 8, b"\x19\x04\x00\x10")),
    _m("application/x-123", 50,
       Clause(0, 0, b"\x00\x00\x1a\x00"), Clause(0, 0, b"\x00\x00\x02\x00")),
    _m("application/x-adobe-indesign-interchange", 50,
       Clause(0, 100, b"<?aid")),
    # Berkeley DB: btree/hash/queue magics big- or little-endian at 0/12
    _m("application/x-berkeley-db", 50,
       Clause(0, 0, b"\x00\x06\x15\x61"),
       Clause(12, 12, b"\x00\x06\x15\x61"),
       Clause(12, 12, b"\x61\x15\x06\x00"),
       Clause(12, 12, b"\x00\x05\x31\x62"),
       Clause(12, 12, b"\x62\x31\x05\x00"),
       Clause(12, 12, b"\x00\x04\x22\x53"),
       Clause(12, 12, b"\x53\x22\x04\x00")),
    _m("application/x-bibtex-text-file", 50,
       Clause(0, 0, b"% BibTeX `"),
       Clause(0, 0, b"% BibTeX standard bibliography "),
       Clause(73, 73, b"%%%  @BibTeX-style-file{"),
       Clause(0, 0, b"@article{"), Clause(0, 0, b"@book{"),
       Clause(0, 0, b"@inbook{"), Clause(0, 0, b"@incollection{"),
       Clause(0, 0, b"@inproceedings{"), Clause(0, 0, b"@manual{")),
    _m("application/x-dvi", 50, Clause(0, 0, b"\xf7\x02")),
    # Emacs byte-code: v18 "\n(" kept for parity (reference wart)
    _m("application/x-elc", 50,
       Clause(0, 0, b";ELC\x13\x00\x00\x00"), Clause(0, 0, b"\n(")),
    # Type1 fonts: PFB binary header (len ignored) and PFA text form
    _m("application/x-font-type1", 60,
       Clause(0, 0, b"\x80\x01\x00\x00\x00\x00%!PS-AdobeFont",
              mask=b"\xff\xff\x00\x00\xff\xff" + b"\xff" * 14),
       Clause(0, 0, b"%!PS-AdobeFont-1.0")),
    _m("application/x-font-adobe-metric", 40,
       Clause(0, 0, b"StartFontMetrics")),
    _m("application/x-font-printer-metric", 40,
       Clause(0, 0, b"\x00\x01\x00\x00\x00\x00Copyr",
              mask=b"\xff\xff\x00\x00\xff\xff\xff\xff\xff\xff\xff")),
    _m("application/x-foxmail", 50,
       Clause(0, 0, b"\x10\x10\x10\x10\x10\x10\x10\x11"
                    b"\x11\x11\x11\x11\x11\x53")),
    _m("application/x-gnumeric", 50, Clause(39, 39, b"=<gmr:Workbook")),
    # GNU tar: longer "ustar  \0" beats the 5-byte POSIX clause at the
    # same priority (rule order is priority desc, pattern length desc)
    _m("application/x-gtar", 45, Clause(257, 257, b"ustar  \x00")),
    _m("application/x-hwp", 50, Clause(0, 0, b"HWP Document File V")),
    _m("application/x-kdelnk", 50,
       Clause(0, 0, b"[KDE Desktop Entry]"),
       Clause(0, 0, b"# KDE Config File")),
    _m("application/x-latex", 50, Clause(0, 0, b"% -*-latex-*-")),
    _m("application/x-lharc", 50,
       Clause(2, 2, b"-lh0-"), Clause(2, 2, b"-lh1-"),
       Clause(2, 2, b"-lz4-"), Clause(2, 2, b"-lz5-")),
    # Jet/Access: "\x00\x01\x00\x00Stan(dard Jet DB)"
    _m("application/x-msaccess", 60,
       Clause(0, 0, b"\x00\x01\x00\x00Stan")),
    _m("application/x-prt", 50, Clause(8, 8, b"0M3C")),
    _m("application/x-sc", 50, Clause(38, 38, b"Spreadsheet")),
    _m("application/x-sh", 50,
       Clause(0, 0, b"#!/"), Clause(0, 0, b"#! /"),
       Clause(0, 0, b"#!\t/")),
    # texinfo before tex: its "\input texinfo" must win over the
    # shorter "\input" clause (same priority, same 14-byte max-length
    # sort key -> stable sort keeps this order)
    _m("application/x-texinfo", 50, Clause(0, 0, b"\\input texinfo")),
    _m("application/x-tex", 50,
       Clause(0, 0, b"\\input"), Clause(0, 0, b"\\section"),
       Clause(0, 0, b"\\setlength"), Clause(0, 0, b"\\documentstyle"),
       Clause(0, 0, b"\\chapter"), Clause(0, 0, b"\\documentclass"),
       Clause(0, 0, b"\\relax"), Clause(0, 0, b"\\contentsline")),
    _m("application/x-zoo", 50, Clause(20, 20, b"\xdc\xa7\xc4\xfd")),
    _m("audio/prs.sid", 50, Clause(0, 0, b"PSID")),
    _m("audio/x-mod", 50,
       Clause(0, 0, b"Extended Module:"), Clause(21, 21, b"BMOD2STM"),
       Clause(1080, 1080, b"M.K."), Clause(1080, 1080, b"M!K!"),
       Clause(1080, 1080, b"FLT4"), Clause(1080, 1080, b"FLT8"),
       Clause(1080, 1080, b"4CHN"), Clause(1080, 1080, b"6CHN"),
       Clause(1080, 1080, b"8CHN"), Clause(1080, 1080, b"CD81"),
       Clause(1080, 1080, b"OKTA")),
    # ASF subtype refinement: UTF-16LE stream-name probe in the header
    _m("audio/x-ms-wma", 50,
       Clause(0, 8192, "Windows Media Audio".encode("utf-16-le"))),
    _m("video/x-ms-wmv", 60,
       Clause(0, 8192, "Windows Media Video".encode("utf-16-le"))),
    _m("audio/x-pn-realaudio", 50, Clause(0, 0, b".ra\xfd")),
    _m("image/cgm", 50, Clause(0, 0, b"BEGMF")),
    _m("image/x-niff", 50, Clause(0, 0, b"IIN1")),
    _m("image/x-xcf", 50, Clause(0, 0, b"gimp xcf ")),
    _m("message/news", 50,
       Clause(0, 0, b"Path:"), Clause(0, 0, b"Xref:"),
       Clause(0, 0, b"Article")),
    _m("text/troff", 50,
       Clause(0, 0, b'.\\"'), Clause(0, 0, b"'\\\""),
       Clause(0, 0, b"'.\\\""), Clause(0, 0, b'\\"'),
       Clause(0, 0, b"'''")),
    _m("text/x-diff", 50,
       Clause(0, 0, b"diff "), Clause(0, 0, b"*** "),
       Clause(0, 0, b"Only in "),
       Clause(0, 0, b"Common subdirectories: "),
       Clause(0, 0, b"Index:")),
    _m("video/x-jng", 50, Clause(0, 0, b"\x8bJNG")),
    _m("video/x-mng", 50, Clause(0, 0, b"\x8aMNG")),
    _m("video/x-sgi-movie", 50, Clause(0, 0, b"MOVI")),
]

# Pre-sort once: priority desc, then longest first-clause pattern desc —
# first match wins (Magic.java:67-79 ordering).
MAGIC_RULES.sort(key=lambda r: (-r.priority, -max(len(c.pattern) for c in r.clauses)))

# (offset, first byte) index. Rule k of the sorted table is bit k of a
# candidate mask. A rule whose clauses all sit at fixed offsets and
# compare their first byte exactly (unmasked, or mask byte 0xFF; not
# case-insensitive) can only match if, for one of its clauses, the
# document's byte at ``lo`` is the pattern's first byte: _BY_OFFSET maps
# offset -> byte -> mask of such rules. Windowed and case-insensitive
# rules are in _ALWAYS. A document tests only its candidates, lowest
# bit (highest priority) first.
_ALWAYS = 0
_BY_OFFSET: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
for _k, _rule in enumerate(MAGIC_RULES):
    if all(c.lo == c.hi and not c.ci
           and (c.mask is None or c.mask[0] == 0xFF) for c in _rule.clauses):
        for _c in _rule.clauses:
            _BY_OFFSET[_c.lo][_c.pattern[0]] |= 1 << _k
    else:
        _ALWAYS |= 1 << _k
    for _c in _rule.clauses + (_rule.confirm or ()):
        assert _c.hi + len(_c.pattern) <= MAGIC_PREFIX, _rule.mime


def _clause_matches(prefix: bytes, c: Clause) -> bool:
    pat = c.pattern
    n = len(pat)
    hay = prefix[c.lo: c.hi + n]
    if c.ci:
        hay = hay.upper()
        pat = pat.upper()
    if c.mask is None:
        return pat in hay if c.hi > c.lo else hay.startswith(pat)
    # masked compare at each window position
    for off in range(0, max(1, len(hay) - n + 1)):
        seg = hay[off: off + n]
        if len(seg) < n:
            break
        if all((s & m) == (p & m) for s, m, p in zip(seg, c.mask, pat)):
            return True
    return False


def match_magic(prefix: bytes) -> str | None:
    """First matching rule's media type, or None.

    ``prefix`` should already be capped at MAGIC_PREFIX bytes.
    """
    if not prefix:
        return None
    # no upfront prefix copy: every clause slices only its own tiny
    # (lo, hi+len) window, and all rule offsets are < MAGIC_PREFIX by
    # construction (asserted at import time)
    n = len(prefix)
    cand = _ALWAYS
    for at, col in _BY_OFFSET.items():
        if at < n:
            cand |= col.get(prefix[at], 0)
    while cand:
        low = cand & -cand
        cand ^= low
        rule = MAGIC_RULES[low.bit_length() - 1]
        for c in rule.clauses:
            if _clause_matches(prefix, c):
                if rule.confirm is None or all(
                        _clause_matches(prefix, cc)
                        for cc in rule.confirm):
                    return rule.mime
                break  # confirm failed: fall through to later rules
    return None
