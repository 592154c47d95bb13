r"""RTF parser (SURVEY.md §2 E4) — a from-scratch tokenizer/group-state
machine over the published RTF 1.9 specification, with the output
semantics of the reference's in-repo RTF chain
(tika-parsers/.../rtf/RTFParser.java, TextExtractor.java,
GroupState.java — itself a from-scratch shallow parse):

- group stack ``{`` ``}`` saving (charset, uc-skip, ignorable) state;
- control words ``\word[N]`` with optional space delimiter;
- ``\ansicpg``/font-table ``\fcharsetN`` select the decode charset
  (default windows-1252, the reference's globalCharset);
- ``\'xx`` hex-escaped bytes decoded in the current charset, runs of
  pending bytes decoded together (multi-byte charsets survive);
- ``\uN`` unicode with ``\ucN`` replacement-skip handling;
- ``\par``/``\line``/``\row`` → newline; ``\tab`` → TAB; ``\cell`` →
  TAB (the reference's table emit shape); ``\emdash`` etc. mapped;
- destination groups (fonttbl, colortbl, stylesheet, info, pict,
  field instructions, \*-prefixed) produce no text, but the field
  result and HYPERLINK targets surface like the reference's
  ``<a href>`` handling;
- ``\binN`` raw-byte runs skipped;
- ``info`` group title/author land in metadata.
"""

from __future__ import annotations

import re

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

# destinations whose content is never text
_IGNORE_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "listtable", "listoverridetable",
    "pict", "themedata", "colorschememapping", "datastore", "latentstyles",
    "rsidtbl", "generator", "xmlnstbl", "objdata", "header", "footer",
    "headerl", "headerr", "headerf", "footerl", "footerr", "footerf",
))

_CHARSET_BY_FCHARSET = {
    0: "windows-1252", 1: "windows-1252", 2: "windows-1252",
    77: "mac-roman", 128: "shift_jis", 129: "cp949", 130: "cp1361",
    134: "gbk", 136: "big5", 161: "cp1253", 162: "cp1254", 163: "cp1258",
    177: "cp1255", 178: "cp1256", 186: "cp1257", 204: "cp1251",
    222: "cp874", 238: "cp1250", 254: "cp437", 255: "cp850",
}

_SYMBOLS = {
    "emdash": "—", "endash": "–", "bullet": "•",
    "lquote": "‘", "rquote": "’", "ldblquote": "“",
    "rdblquote": "”", "emspace": " ", "enspace": " ",
    "qmspace": " ", "~": " ", "-": "­", "_": "‑",
    "zwj": "‍", "zwnj": "‌",
}

_CTRL_WORD = re.compile(rb"([a-zA-Z]+)(-?\d+)? ?")
# a run of ordinary content bytes (no group delimiters, control
# prefix, or raw newlines) — consumed in one C-level match instead of
# byte-at-a-time appends (the tokenizer's hot path)
_PLAIN_RUN = re.compile(rb"[^\\{}\r\n]+")
_HYPERLINK = re.compile(r'HYPERLINK\s+"?([^"\s]+)"?')


class _Group:
    __slots__ = ("charset", "uc_skip", "ignorable", "dest")

    def __init__(self, charset, uc_skip, ignorable, dest):
        self.charset = charset
        self.uc_skip = uc_skip
        self.ignorable = ignorable
        self.dest = dest


def extract_rtf(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    data = bytes(data or b"")
    out: list[str] = []
    links: list[tuple] = []
    metadata: dict[str, list[str]] = {"Content-Type": ["application/rtf"]}

    st = _Group("windows-1252", 1, False, None)
    stack: list[_Group] = []
    fonts: dict[int, str] = {}
    cur_font = -1
    pending = bytearray()     # bytes awaiting charset decode
    info_buf: list[str] | None = None
    i, n = 0, len(data)
    unicode_skip = 0          # chars to skip after \uN

    def sink(s: str):
        # ignorable destinations swallow text, except the info/field
        # destinations which buffer it for metadata/link harvesting
        if st.ignorable:
            if info_buf is not None:
                info_buf.append(s)
            return
        out.append(s)

    def emit(s: str):
        nonlocal unicode_skip
        if unicode_skip > 0:
            unicode_skip -= len(s)
            if unicode_skip < 0:
                s = s[unicode_skip:]
                unicode_skip = 0
            else:
                return
        sink(s)

    def flush():
        # decode the pending byte run in the current charset; the skip
        # after \uN applies to these bytes too (RTF 1.9 §unicode)
        if pending:
            try:
                s = bytes(pending).decode(st.charset, "replace")
            except LookupError:
                s = bytes(pending).decode("windows-1252", "replace")
            pending.clear()
            emit(s)

    # flushing is LAZY: pending bytes ride across group pushes and
    # formatting-only control words (\b, \fs24, \pard — the vast
    # majority) and decode in one run at the next point where order
    # or state actually matters: an emit, a charset/destination
    # change, or a group pop (which restores charset). This coalesces
    # the per-run decodes the eager scheme did per control word.
    while i < n:
        b = data[i]
        if b == 0x7B:  # {
            stack.append(st)
            st = _Group(st.charset, st.uc_skip, st.ignorable, st.dest)
            i += 1
        elif b == 0x7D:  # }
            flush()
            if info_buf is not None:
                if st.dest in ("title", "author", "subject",
                               "keywords", "doccomm"):
                    key = {"author": "Author",
                           "doccomm": "comments"}.get(st.dest, st.dest)
                    metadata[key] = ["".join(info_buf)]
                    info_buf = None
                elif st.dest == "fldinst":
                    m = _HYPERLINK.search("".join(info_buf))
                    if m:  # every field, not just the last one
                        links.append(("a", m.group(1), "", ""))
                    info_buf = None
            if stack:
                st = stack.pop()
            i += 1
        elif b == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = data[i + 1]
            if nxt == 0x27:  # \'xx hex byte
                try:
                    pending.append(int(data[i + 2:i + 4], 16))
                except ValueError:
                    pass
                i += 4
            elif chr(nxt) in "\\{}":
                flush()
                emit(chr(nxt))
                i += 2
            elif chr(nxt) in _SYMBOLS:
                flush()
                emit(_SYMBOLS[chr(nxt)])
                i += 2
            elif nxt in (0x0D, 0x0A):  # \<CRLF> == \par (spec)
                flush()
                unicode_skip = 0
                sink("\n")
                i += 2
                if nxt == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            elif nxt == 0x2A:  # \* ignorable destination
                flush()
                st.ignorable = True
                i += 2
            else:
                m = _CTRL_WORD.match(data, i + 1)
                if not m:
                    i += 2
                    continue
                word = m.group(1).decode("ascii")
                param = int(m.group(2)) if m.group(2) else None
                i = m.end()
                if word in ("par", "line", "row", "sect", "page"):
                    flush()
                    unicode_skip = 0  # a control word ends any \uN
                    sink("\n")       # fallback; its output is never
                elif word == "tab" or word == "cell":  # skippable
                    flush()
                    unicode_skip = 0
                    sink("\t")
                elif word in _SYMBOLS:
                    flush()
                    unicode_skip = 0
                    sink(_SYMBOLS[word])
                elif word == "u" and param is not None:
                    flush()
                    # the uc-skip applies only to the *replacement*
                    # text after \uN, never to the \uN char itself
                    unicode_skip = 0
                    cp = param if param >= 0 else param + 65536
                    if 0 <= cp <= 0x10FFFF:  # malformed \uN: drop,
                        sink(chr(cp))        # never error the doc
                    unicode_skip = st.uc_skip
                elif word == "uc" and param is not None:
                    flush()
                    st.uc_skip = param
                elif word == "ansicpg" and param:
                    import codecs
                    flush()
                    try:
                        codecs.lookup(f"cp{param}")
                        st.charset = f"cp{param}"
                    except LookupError:
                        pass
                elif word == "f" and param is not None:
                    flush()
                    cur_font = param
                    if st.dest != "fonttbl" and param in fonts:
                        st.charset = fonts[param]
                elif word == "fcharset" and param is not None:
                    flush()
                    cs = _CHARSET_BY_FCHARSET.get(param)
                    if cs:
                        fonts[cur_font] = cs
                elif word in _IGNORE_DESTS or word == "fldinst":
                    flush()
                    st.ignorable = True
                    st.dest = word
                    if word == "fldinst":
                        info_buf = []
                        st.dest = "fldinst"
                elif word in ("title", "author", "subject", "keywords",
                              "doccomm"):
                    flush()
                    st.dest = word
                    st.ignorable = True
                    info_buf = []
                elif word == "info":
                    flush()
                    st.dest = "info"
                    st.ignorable = True  # info fields are metadata
                elif word == "bin" and param and param > 0:
                    # positive params only: a negative \bin would
                    # rewind the cursor into an infinite loop
                    flush()
                    i += param  # raw bytes, skip
        elif b in (0x0D, 0x0A):
            i += 1  # raw CR/LF in RTF source is not content
        else:
            m = _PLAIN_RUN.match(data, i)
            pending += m.group()
            i = m.end()

    flush()

    text = safe_chars("".join(out))
    if text and not text.endswith("\n"):
        text += "\n"
    return {
        "charset": None,
        "title": metadata.get("title", [None])[0],
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": links,
        "metadata": metadata,
        "status": "ok",
    }
