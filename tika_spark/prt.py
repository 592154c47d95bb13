"""CADKEY PRT (CAD drawing) text extraction.

Semantics re-derived from the reference (tika-parsers/.../prt/
PRTParser.java:40-260): a byte-scan for note-entry and view-name text
runs —

* note text: five ``0x33`` bytes then ``e3 3f``, ten low bytes
  (<= 0x0f), a ``0x1f`` marker, uint16-LE length, null-terminated text
* view names: five ``0x00`` bytes then ``e0|f0`` + ``3f|bf``, either a
  length directly or an 8-byte zero pad then the length

Text decodes as CP437 with the reference's documented phi->O-slash
fixup; creation date lives at offset 30 as ASCII YYYYMMDDhhmm and the
description in the following 500 bytes. Runs longer than 0x0800 are
treated as false detections, as the reference does.
"""

from __future__ import annotations

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()
_MAX_SANE_TEXT_LENGTH = 0x0800


def _decode(data: bytes, trim: bool) -> str:
    length = len(data) - 1
    if trim:
        nul = data.find(b"\0")
        if nul >= 0:
            length = nul
    if length <= 0:
        return ""
    text = data[:length].decode("cp437", errors="replace")
    # documented CP437 wart: Greek phi renders where O-slash belongs
    return text.replace("φ", "Ø")


def extract_prt(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {
        "Content-Type": ["application/x-prt"]}

    # header: 30 opaque bytes, then YYYYMMDDhhmm, then <=500-byte
    # description (PRTParser.java:73-96)
    date = data[30:42].decode("ascii", errors="replace")
    if date.startswith(("19", "20")) and date.isdigit():
        iso = (f"{date[0:4]}-{date[4:6]}-{date[6:8]}"
               f"T{date[8:10]}:{date[10:12]}:00")
        metadata["Creation-Date"] = [iso]
        metadata["date"] = [iso]
    desc = _decode(data[42:542], trim=True)
    if desc:
        metadata["description"] = [desc]

    paras: list[str] = []
    last5 = bytearray(5)     # ring of the last 5 "plain" bytes
    l5pos = 0
    pos = 542
    n = len(data)

    def l5_all(value: int) -> bool:
        return all(b == value for b in last5)

    def l5_low() -> bool:
        # view-name precondition: last five bytes all <= 0x0f
        return all(b <= 0x0f for b in last5)

    while pos < n:
        b = data[pos]
        pos += 1
        if b in (0xE0, 0xE3, 0xF0) and pos < n:
            nb = data[pos]
            pos += 1
            if nb in (0x3F, 0xBF):
                if b == 0xE3 and nb == 0x3F:
                    if l5_all(0x33):
                        # note text: ten low pad bytes, 0x1f, len, text
                        pad = data[pos:pos + 10]
                        if (len(pad) == 10
                                and all(x <= 0x0F for x in pad)
                                and pos + 10 < n
                                and data[pos + 10] == 0x1F):
                            p2 = pos + 11
                            length = int.from_bytes(
                                data[p2:p2 + 2], "little")
                            p2 += 2
                            if (0 < length <= _MAX_SANE_TEXT_LENGTH
                                    and p2 + length <= n
                                    and data[p2 + length - 1] == 0):
                                paras.append(
                                    _decode(data[p2:p2 + length],
                                            trim=False))
                                pos = p2 + length
                elif l5_all(0x00):
                    # view name: length or 8-byte zero pad then length
                    maybe = int.from_bytes(data[pos:pos + 2], "little")
                    p2 = pos + 2
                    if maybe == 0:
                        pad = data[p2:p2 + 6]
                        if len(pad) == 6 and all(x <= 0x0F
                                                 for x in pad):
                            p3 = p2 + 6
                            length = int.from_bytes(
                                data[p3:p3 + 2], "little")
                            p3 += 2
                            if (1 < length <= _MAX_SANE_TEXT_LENGTH
                                    and p3 + length <= n
                                    and data[p3 + length - 1] == 0):
                                paras.append(
                                    _decode(data[p3:p3 + length],
                                            trim=False))
                                pos = p3 + length
                    elif 0 < maybe < _MAX_SANE_TEXT_LENGTH:
                        if (p2 + maybe <= n
                                and data[p2 + maybe - 1] == 0):
                            paras.append(
                                _decode(data[p2:p2 + maybe],
                                        trim=False))
                            pos = p2 + maybe
            # bytes consumed by a failed probe are not recorded,
            # mirroring the reference's stream reads
        else:
            last5[l5pos] = b
            l5pos = (l5pos + 1) % 5

    text = safe_chars("\n".join(paras) + ("\n" if paras else ""))
    return {
        "charset": None, "title": None, "text": text,
        "spans": [(0, len(text), "p")] if text else [],
        "links": [], "metadata": metadata, "status": "ok",
    }
