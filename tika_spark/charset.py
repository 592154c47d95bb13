"""Charset detection and decoding.

Reimplements (from scratch) the reference's charset cascade for HTML
(tika-parsers/.../html/HtmlParser.java:81-165) and the spirit of its
statistical detector (tika-parsers/.../txt/CharsetDetector.java):

HTML cascade order:
1. ``<meta http-equiv=Content-Type content="...charset=X">`` regex over
   the first 8192 bytes read as ASCII (TIKA-332/357), plus the HTML5
   ``<meta charset=X>`` form (an extension over the 1.x reference);
2. charset parameter of the declared Content-Type hint (TIKA-341);
3. statistical detection with the declared encoding as a confidence
   bonus (``conf += (100 - conf) / 2`` — CharsetDetector.java:207-210);
4. default **windows-1252**.

The statistical recognizers here are deterministic, numpy-friendly
reimplementations of the ICU approach: BOM checks, UTF-8 validity
scan, UTF-16 null-byte patterning, ISO-2022 escapes, plus single-byte
heuristics (cp866, koi8-r, cp500/EBCDIC) driven by byte-class hit
rates. ``charset_normalizer`` (if importable) is consulted as a
last-tier fallback only.
"""

from __future__ import annotations

import codecs
import re

import numpy as np

from tika_spark.config import CHARSET_PREFIX, DEFAULT_CHARSET, META_CHARSET_PREFIX

# --- charset-name hygiene (CharsetUtils.clean analog) ---------------------

_ALIASES = {
    "utf8": "utf-8", "utf-8": "utf-8", "utf_8": "utf-8",
    "latin1": "iso-8859-1", "latin-1": "iso-8859-1",
    "iso8859-1": "iso-8859-1", "iso-8859-1": "iso-8859-1",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-sjis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "gb2312": "gb18030", "gbk": "gb18030",
    "us-ascii": "ascii", "ascii": "ascii",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
    "ibm866": "cp866", "cp866": "cp866",
    "ibm500": "cp500", "cp500": "cp500", "ebcdic-cp-us": "cp500",
    "ibm424": "cp424", "cp424": "cp424", "ebcdic-cp-he": "cp424",
    "ibm420": "cp420", "cp420": "cp420", "ebcdic-cp-ar1": "cp420",
    "koi8-r": "koi8-r", "koi8r": "koi8-r",
}


def clean_charset(name: str | None) -> str | None:
    """Normalize a charset token; None if unsupported by Python codecs."""
    if not name:
        return None
    token = name.strip().strip("\"'").strip().lower().rstrip(";,")
    token = _ALIASES.get(token, token)
    try:
        codecs.lookup(token)
    except (LookupError, TypeError):
        return None
    return token


# --- meta-tag charset sniff (HtmlParser.getEncoding stage 1) ---------------

_HTTP_EQUIV_RE = re.compile(
    r"(?is)<meta\s+http-equiv\s*=\s*['\"]?\s*content-type['\"]?\s+"
    r"content\s*=\s*['\"]([^'\"]+)['\"]")
_HTML5_META_RE = re.compile(r"(?is)<meta\s+charset\s*=\s*['\"]?\s*([-\w.:]+)")


def meta_charset(data: bytes) -> str | None:
    """Charset from a meta tag in the first 8192 bytes, else None."""
    head = data[:META_CHARSET_PREFIX].decode("latin-1", errors="replace")
    m = _HTTP_EQUIV_RE.search(head)
    if m:
        # one or more `x` / `x=y` attrs separated by ';' (TIKA-349)
        for attr in m.group(1).split(";"):
            k, _, v = attr.strip().partition("=")
            if k.strip().lower() == "charset" and v:
                cs = clean_charset(v)
                if cs:
                    return cs
    m = _HTML5_META_RE.search(head)
    if m:
        return clean_charset(m.group(1))
    return None


def charset_from_content_type(declared_type: str | None) -> str | None:
    if not declared_type:
        return None
    for part in declared_type.split(";")[1:]:
        k, _, v = part.strip().partition("=")
        if k.strip().lower() == "charset":
            return clean_charset(v)
    return None


# --- statistical recognizers -----------------------------------------------

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def bom_charset(data: bytes) -> str | None:
    for bom, cs in _BOMS:
        if data.startswith(bom):
            return cs
    return None


# control bytes that essentially never occur in real text (any charset)
_CTRL_MASK = np.zeros(256, dtype=bool)
for _b in list(range(0x00, 0x09)) + [0x0B] + list(range(0x0E, 0x1B)) \
        + list(range(0x1C, 0x20)):
    _CTRL_MASK[_b] = True


def _score_utf8(buf: np.ndarray) -> int:
    """Confidence 0-100 that buf is valid UTF-8 with multibyte content."""
    if _CTRL_MASK[buf].any():
        return 0  # text in a sane charset has no raw control bytes
    try:
        raw = buf.tobytes()
        raw.decode("utf-8")
    except UnicodeDecodeError as e:
        # allow a truncated final sequence only
        if e.start < len(buf) - 4:
            return 0
        try:
            raw[:e.start].decode("utf-8")
        except UnicodeDecodeError:
            return 0
    n_multi = int((buf >= 0xC0).sum())
    if n_multi == 0:
        return 15 if (buf < 0x80).all() else 0   # pure ASCII: weak signal
    return min(100, 60 + n_multi)


def _score_utf16(buf: np.ndarray, little: bool) -> int:
    """UTF-16 of one-script text: high bytes concentrate on <=2 values
    (0x00 for latin, the Unicode block byte otherwise)."""
    if len(buf) < 16 or len(buf) % 2:
        return 0
    hi = buf[1::2] if little else buf[0::2]
    lo = buf[0::2] if little else buf[1::2]
    # bincount beats np.unique (no sort) — this runs on every
    # statistical-tier document
    hi_counts = np.bincount(hi, minlength=256)
    top2 = float(np.partition(hi_counts, -2)[-2:].sum()) / len(hi)
    lo_counts = np.bincount(lo, minlength=256)
    lo_top2 = float(np.partition(lo_counts, -2)[-2:].sum()) / len(lo)
    n_lo_vals = int((lo_counts > 0).sum())
    # real UTF-16: high bytes nearly constant, low bytes diverse;
    # a run of one repeated ASCII char concentrates BOTH -> reject
    if top2 > 0.9 and n_lo_vals > 4 and lo_top2 < 0.7:
        return 80
    return 0


def _score_sbcs_cyrillic(buf: np.ndarray, ranges) -> int:
    """Single-byte Cyrillic codepages: letters in the given byte ranges,
    words split by ASCII space 0x20."""
    if _CTRL_MASK[buf].any():
        return 0
    high = buf[buf >= 0x80]
    if len(high) < 8:
        return 0
    mask = np.zeros(len(high), dtype=bool)
    for lo, hi in ranges:
        mask |= (high >= lo) & (high <= hi)
    rate = float(mask.mean())
    has_ascii_space = float((buf == 0x20).mean()) > 0.02
    if rate > 0.85 and has_ascii_space:
        # below the ngram recognizers' confident range (_score_sbcs_ngram
        # tops out at 92) so per-language bigram evidence wins when the
        # blunt byte-range test fires for several Cyrillic layouts
        return 60
    return 0


# windows-1252's C1-range punctuation (smart quotes, dashes, ellipsis,
# dagger, euro, trademark...): bytes 0x80-0x9F that are *letters* in no
# ISO-8859 layout but common typographic marks in 125x text
_CP1252_PUNCT = np.array(
    [0x80, 0x82, 0x84, 0x85, 0x86, 0x87, 0x89, 0x8B, 0x91, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x99, 0x9B], dtype=np.uint8)


def _score_cp1252_punct(buf: np.ndarray) -> int:
    """Mostly-ASCII text whose high bytes are all windows-1252 smart
    punctuation: the classic latin-1-vs-1252 tell (ICU resolves the
    whole 8859-1 family to windows-1252 when C1 marks appear)."""
    high = buf[buf >= 0x80]
    if len(high) < 2:
        return 0
    punct = np.isin(high, _CP1252_PUNCT)
    accents = (high >= 0xC0)   # latin letters allowed alongside
    if bool((punct | accents).all()) and punct.any():
        return 65
    return 0


def _score_iso2022(raw: bytes) -> tuple[str, int] | None:
    """ISO-2022 escape designations (CharsetRecog_2022.java family):
    KR/CN checked before JP because their SO-designation escapes are
    longer/more specific. ISO-2022-CN has no Python codec — decode
    routes through the in-repo RFC 1922 state decoder
    (:func:`_decode_iso2022_cn`)."""
    for seq, cs in ((b"\x1b$)C", "iso2022_kr"),
                    (b"\x1b$)A", "iso-2022-cn"),   # GB2312 designation
                    (b"\x1b$)G", "iso-2022-cn"),   # CNS 11643 plane 1
                    (b"\x1b$*H", "iso-2022-cn"),   # CNS 11643 plane 2
                    (b"\x1b$B", "iso2022_jp"),     # JIS X 0208-1983
                    (b"\x1b$@", "iso2022_jp"),     # JIS C 6226-1978
                    (b"\x1b(J", "iso2022_jp")):    # JIS X 0201 roman
        if seq in raw:
            return cs, 100
    return None


def _score_cp500(buf: np.ndarray) -> int:
    """EBCDIC: letters in 0x81-0xA9/0xC1-0xE9, space = 0x40, and almost
    nothing in the ASCII-control/space region."""
    if len(buf) < 32:
        return 0
    space_rate = float((buf == 0x40).mean())
    letters = (((buf >= 0x81) & (buf <= 0xA9)) | ((buf >= 0xC1) & (buf <= 0xE9)))
    letter_rate = float(letters.mean())
    low_ascii = float((buf < 0x40).mean())
    if space_rate > 0.05 and letter_rate > 0.4 and low_ascii < 0.1:
        return 85
    return 0


# EBCDIC script variants (the reference's IBM424/IBM420 recognizers,
# CharsetDetector.java:483-545 family): all share the EBCDIC shape
# (space 0x40, sparse <0x40 region). IBM424 (Hebrew EBCDIC) and
# IBM420 (Arabic EBCDIC) carry genuine trained byte-bigram models
# like the other sbcs recognizers — seed corpus encoded into the
# codec, scored by bigram hit rate. Python ships no cp420 codec;
# tika_spark.charset_cp420 registers one from JDK-dumped IBM CDRA
# code page 420 tables (VERDICT r4 task 7), so a detection hit is
# decodable downstream, not a dead end.
from tika_spark import charset_cp420  # noqa: F401  (registers cp420)

_EBCDIC_NGRAM_CODECS = (("cp424", ("he",)), ("cp420", ("ar",)))

_ebcdic_model_cache: list[tuple[str, np.ndarray]] | None = None


def _ebcdic_models() -> list[tuple[str, np.ndarray]]:
    """Byte-bigram tables for EBCDIC script variants, trained from
    the in-repo seed corpus exactly like :func:`_sbcs_models` — but
    gated on the EBCDIC letter region (>= 0x41, space 0x40 rides
    along in letter-space transitions) instead of the ASCII high
    half, which EBCDIC Hebrew (0x41-0x71) never reaches."""
    global _ebcdic_model_cache
    if _ebcdic_model_cache is None:
        from tika_spark.language.corpus import SEED_TEXT
        models = []
        for codec, langs in _EBCDIC_NGRAM_CODECS:
            grams: set[int] = set()
            for lang in langs:
                seed = SEED_TEXT.get(lang, "")
                try:
                    enc = (seed + " ").encode(codec, "ignore")
                except LookupError:
                    continue
                arr = np.frombuffer(enc, np.uint8).astype(np.int32)
                if len(arr) < 2:
                    continue
                letter = arr >= 0x41
                pairs = (arr[:-1] << 8) | arr[1:]
                grams.update(
                    pairs[letter[:-1] | letter[1:]].tolist())
            if grams:
                models.append((codec, np.array(sorted(grams),
                                               dtype=np.int32)))
        _ebcdic_model_cache = models
    return _ebcdic_model_cache


def _score_ebcdic_script(raw: bytes, buf: np.ndarray) -> dict[str, int]:
    """Trained bigram score for EBCDIC script variants, behind the
    structural EBCDIC gate (space 0x40, near-empty control region)."""
    out: dict[str, int] = {}
    if len(buf) < 32:
        return out
    space_rate = float((buf == 0x40).mean())
    low_ascii = float((buf < 0x40).mean())
    if space_rate <= 0.05 or low_ascii >= 0.1:
        return out
    letter = buf >= 0x41
    pairs = (buf[:-1].astype(np.int32) << 8) | buf[1:]
    rel = pairs[letter[:-1] | letter[1:]]
    if len(rel) < 8:
        return out
    for codec, grams in _ebcdic_models():
        score = _score_sbcs_ngram(rel, grams)
        if score >= 50:
            out[codec] = score
    return out


# CJK multibyte recognizers (CharsetDetector's CharsetRecog_mbcs family,
# tika-parsers/.../txt/CharsetRecog_mbcs.java): each candidate encoding
# is validated by strict decode of the prefix, then scored by the
# density of characters in its expected script ranges. ``prior`` breaks
# ties among encodings whose byte patterns overlap (gb18030 is a
# near-superset and must not win on validity alone).
_KANA = ((0x3040, 0x30FF),)
_HANGUL = ((0xAC00, 0xD7A3), (0x1100, 0x11FF))
_CJK = ((0x4E00, 0x9FFF),)

# very common characters found in ONE Han variant but not the other —
# the cross-decode of gb18030 bytes is often byte-valid big5 (and vice
# versa), so validity alone cannot separate them
_SIMPLIFIED = np.array(
    sorted(ord(c) for c in "们这为说对时会业发经动点现还没见问头语长习"),
    dtype=np.uint32)
_TRADITIONAL = np.array(
    sorted(ord(c) for c in "們這為說對時會業發經動點現還沒見問頭語長習"),
    dtype=np.uint32)

_MBCS_CANDIDATES = (
    # (codec, prior, gate ranges [>=2 chars required], score ranges,
    #  distinctive char set)
    ("shift_jis", 6, _KANA, _KANA + _CJK, None),
    ("euc_jp", 5, _KANA, _KANA + _CJK, None),
    ("cp949", 4, _HANGUL, _HANGUL, None),
    ("big5", 3, _CJK, _CJK, _TRADITIONAL),
    ("gb18030", 2, _CJK, _CJK, _SIMPLIFIED),
)


def _score_mbcs(raw: bytes, codec: str, prior: int, gate, ranges,
                distinctive) -> int:
    # caller gates on the presence of high bytes (hoisted — a per-codec
    # python byte scan here dominated the ascii fast path)
    try:
        text = raw.decode(codec)
    except (UnicodeDecodeError, LookupError) as e:
        # tolerate only a truncated trailing sequence
        start = getattr(e, "start", 0)
        if start < len(raw) - 4:
            return 0
        try:
            text = raw[:start].decode(codec)
        except (UnicodeDecodeError, LookupError):
            return 0
    if not text:
        return 0
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    gate_mask = np.zeros(len(cp), dtype=bool)
    for lo, hi in gate:
        gate_mask |= (cp >= lo) & (cp <= hi)
    if int(gate_mask.sum()) < 2:
        return 0
    script_mask = np.zeros(len(cp), dtype=bool)
    for lo, hi in ranges:
        script_mask |= (cp >= lo) & (cp <= hi)
    script = int(script_mask.sum())
    if script < 4:
        return 0
    rate = script / len(cp)
    bonus = 0
    if distinctive is not None:
        hits = int(np.isin(cp, distinctive).sum())
        bonus = 12 * min(hits, 2)
    return min(100, 50 + int(rate * 30) + prior + bonus)


# --- single-byte per-language ngram recognizers ---------------------------
# the CharsetRecog_sbcs approach (tika-parsers/.../txt/
# CharsetRecog_sbcs.java — ~20 per-(charset,language) ngram tables):
# we derive the tables at first use from the in-repo 27-language seed
# corpus by encoding it into each candidate charset and collecting the
# byte bigrams that involve a high byte. Scoring = hit rate of the
# input's high-byte bigrams against the table.

_SBCS_NGRAM_CODECS = (
    ("windows-1251", ("ru", "uk", "be")),
    ("iso-8859-5", ("ru", "uk")),
    ("koi8-r", ("ru", "be")),
    ("cp866", ("ru",)),
    ("iso-8859-7", ("el",)),
    ("windows-1253", ("el",)),
    ("iso-8859-2", ("pl", "hu", "sk", "sl", "cs", "ro")),
    ("windows-1250", ("pl", "hu", "sk", "sl", "cs", "ro")),
    ("tis-620", ("th",)),
    # widened toward CharsetRecog_sbcs.java's 20 recognizers
    # (VERDICT r1 task 7): Arabic, Hebrew, Turkish layouts
    ("windows-1256", ("ar",)),
    ("iso-8859-6", ("ar",)),
    ("windows-1255", ("he",)),
    ("iso-8859-8", ("he",)),
    ("windows-1254", ("tr",)),
    ("iso-8859-9", ("tr",)),
    # western-European Latin-1 family (CharsetRecog_sbcs.java's ten
    # 8859_1_xx per-language models): accented-letter bigrams trained
    # from the same seed corpus; ascii-only (en) text carries no
    # high-byte bigrams and falls through to the default, as intended
    ("iso-8859-1", ("de", "fr", "es", "pt", "it", "nl", "da", "no",
                    "sv")),
    ("windows-1252", ("de", "fr", "es", "pt", "it", "nl", "da", "no",
                      "sv")),
)

_sbcs_model_cache: list[tuple[str, np.ndarray]] | None = None


def _sbcs_models() -> list[tuple[str, np.ndarray]]:
    global _sbcs_model_cache
    if _sbcs_model_cache is None:
        from tika_spark.language.corpus import SEED_TEXT
        models = []
        for codec, langs in _SBCS_NGRAM_CODECS:
            grams: set[int] = set()
            for lang in langs:
                seed = SEED_TEXT.get(lang, "")
                text = seed.lower() + " " + seed.upper()
                try:
                    enc = text.encode(codec, "ignore")
                except LookupError:
                    continue
                arr = np.frombuffer(enc, np.uint8).astype(np.int32)
                if len(arr) < 2:
                    continue
                hi = arr >= 0x80
                pairs = (arr[:-1] << 8) | arr[1:]
                grams.update(pairs[hi[:-1] | hi[1:]].tolist())
            if grams:
                models.append((codec, np.array(sorted(grams),
                                               dtype=np.int32)))
        _sbcs_model_cache = models
    return _sbcs_model_cache


def _sbcs_rel_bigrams(buf: np.ndarray) -> np.ndarray | None:
    """High-byte-involving bigrams of the input, computed once per
    document and scored against every model."""
    hi = buf >= 0x80
    # no density floor: western Latin-1 text is legitimately sparse in
    # accents (2-3% high bytes) yet its accent-adjacent bigrams still
    # pin the charset — 8 scorable bigrams is evidence enough
    if len(buf) < 16 or not hi.any():
        return None
    pairs = (buf[:-1].astype(np.int32) << 8) | buf[1:]
    rel = pairs[hi[:-1] | hi[1:]]
    return rel if len(rel) >= 8 else None


def _score_sbcs_ngram(rel: np.ndarray, grams: np.ndarray) -> int:
    # membership via searchsorted on the pre-sorted model (np.isin
    # re-sorts per call — measurable at fleet batch rates)
    idx = np.searchsorted(grams, rel)
    idx[idx >= len(grams)] = 0
    hits = grams[idx] == rel
    return int(92 * float(hits.mean()))


def detect_statistical(data: bytes, declared: str | None = None) -> str:
    """Best-effort statistical charset detection over <=8000 bytes."""
    raw = data[:CHARSET_PREFIX]
    if not raw:
        return declared or DEFAULT_CHARSET
    cs = bom_charset(raw)
    if cs:
        return cs
    iso = _score_iso2022(raw)
    if iso:
        return iso[0]

    buf = np.frombuffer(raw, dtype=np.uint8)
    has_high = bool((buf >= 0x80).any())
    scores: dict[str, int] = {}
    scores["utf-8"] = _score_utf8(buf)
    scores["utf-16-le"] = _score_utf16(buf, little=True)
    scores["utf-16-be"] = _score_utf16(buf, little=False)
    scores["cp500"] = _score_cp500(buf)
    ebcdic = _score_ebcdic_script(raw, buf)
    scores.update(ebcdic)
    # a trained EBCDIC-script hit behind the structural gate (space =
    # 0x40 frequent, ASCII control region near-empty) is mutually
    # exclusive with every ASCII-compatible encoding: skip their
    # candidates, so an MBCS validity score (gb18030 accepts most byte
    # soup) cannot outbid it, while cp500 and the declared-hint bonus
    # still compete
    if has_high and not ebcdic:
        # single-byte Cyrillic heuristics
        scores["cp866"] = _score_sbcs_cyrillic(buf,
                                               [(0x80, 0xAF), (0xE0, 0xF1)])
        scores["koi8-r"] = _score_sbcs_cyrillic(buf, [(0xC0, 0xFF)])
        if scores["utf-8"] < 60:  # CJK/sbcs only when not UTF-8
            for codec, prior, gate, ranges, distinctive in _MBCS_CANDIDATES:
                scores[codec] = _score_mbcs(raw, codec, prior, gate,
                                            ranges, distinctive)
            rel = _sbcs_rel_bigrams(buf)
            if rel is not None:
                for codec, grams in _sbcs_models():
                    scores[codec] = _score_sbcs_ngram(rel, grams)
            scores["windows-1252"] = max(scores.get("windows-1252", 0),
                                         _score_cp1252_punct(buf))

    declared = clean_charset(declared)
    if declared:
        # declared-hint bonus (CharsetDetector.java:207-210)
        base = scores.get(declared, 0)
        if base == 0:
            try:
                raw.decode(declared)
                base = 40
            except (UnicodeDecodeError, LookupError):
                base = 0
        scores[declared] = base + (100 - base) // 2

    best, conf = max(scores.items(), key=lambda kv: kv[1])
    if conf >= 50:
        return best
    if conf > 0 and best == "utf-8":
        return best
    try:  # last tier: charset_normalizer, if baked in
        from charset_normalizer import from_bytes
        m = from_bytes(raw).best()
        if m is not None and m.encoding:
            cleaned = clean_charset(m.encoding)
            if cleaned:
                return cleaned
    except ImportError:
        pass
    return DEFAULT_CHARSET


def html_charset(data: bytes, declared_type: str | None = None,
                 default: str = DEFAULT_CHARSET) -> str:
    """The full HTML charset cascade (HtmlParser.java:81-165 order)."""
    cs = meta_charset(data)
    if cs:
        return cs
    declared = charset_from_content_type(declared_type)
    got = detect_statistical(data, declared=declared)
    return got or default


def _decode_iso2022_cn(data: bytes) -> str:
    """RFC 1922 ISO-2022-CN state decoder (Python ships no codec; the
    reference decodes it through ICU, txt/CharsetRecog_2022.java names
    it). SO/SI shift between ASCII (G0) and the designated G1 set;
    GB2312 pairs decode through the stdlib EUC-CN codec by setting the
    high bits. CNS 11643 designations (planes 1/2) are recognized
    structurally but decode to U+FFFD — no stdlib codec carries CNS,
    and real-world ISO-2022-CN mail/news is overwhelmingly
    GB2312-designated."""
    out: list[str] = []
    g1 = None
    shifted = False
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b == 0x1B:
            head4 = data[i:i + 4]
            if head4 == b"\x1b$)A":
                g1, i = "gb", i + 4
                continue
            if head4 == b"\x1b$)G":
                g1, i = "cns1", i + 4
                continue
            if head4 == b"\x1b$*H":
                i += 4          # G2 designation (CNS plane 2)
                continue
            if data[i:i + 2] == b"\x1bN":   # SS2: one G2 pair
                out.append("�")
                i += 4
                continue
            i += 1              # unknown escape: drop the ESC byte
            continue
        if b == 0x0E:
            shifted, i = True, i + 1
            continue
        if b == 0x0F:
            shifted, i = False, i + 1
            continue
        if shifted and 0x21 <= b <= 0x7E and i + 1 < n \
                and 0x21 <= data[i + 1] <= 0x7E:
            if g1 == "gb":
                out.append(bytes((b | 0x80, data[i + 1] | 0x80))
                           .decode("gb2312", "replace"))
            else:
                out.append("�")
            i += 2
            continue
        out.append(chr(b) if b < 0x80 else "�")
        i += 1
    return "".join(out)


def decode(data: bytes, charset: str) -> str:
    """Decode with replacement, stripping a leading BOM if present.
    Detect-only names with no Python codec route to the in-repo state
    decoders (ISO-2022-CN) instead of silently falling back to the
    cp1252 default, which garbled every shifted run."""
    bom = bom_charset(data)
    if bom:
        for b, cs in _BOMS:
            if data.startswith(b) and cs == bom:
                data = data[len(b):]
                charset = bom if bom != "utf-8" else charset
                break
        if bom.startswith("utf-") and not charset.startswith("utf"):
            charset = bom
    if charset.replace("_", "-").lower() == "iso-2022-cn":
        return _decode_iso2022_cn(data)
    try:
        return data.decode(charset, errors="replace")
    except LookupError:
        return data.decode(DEFAULT_CHARSET, errors="replace")
