"""Plain-text parser (E1).

Reimplements the reference's TXTParser semantics (tika-parsers/.../txt/
TXTParser.java:68-142): statistical charset detection with the declared
Content-Type charset as a hint, leading BOM dropped from output, the
entire content emitted as a single paragraph block (so the plain-text
projection is content + '\\n'), Content-Encoding and Content-Type set
in metadata.
"""

from __future__ import annotations

from tika_spark import charset as cs
from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()


def extract_text(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT) -> dict:
    data = bytes(data or b"")
    declared = cs.charset_from_content_type(declared_type)
    charset = cs.detect_statistical(data, declared=declared)
    decoded = cs.decode(data, charset)          # BOM dropped here
    text = safe_chars(decoded)
    body = text + "\n"  # single <p> block through the layout contract
    return {
        "charset": charset,
        "title": None,
        "text": body,
        "spans": [(0, len(text), "p")],
        "links": [],
        "metadata": {"Content-Encoding": [charset],
                     "Content-Type": ["text/plain"]},
        "status": "ok",
    }
