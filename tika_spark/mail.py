"""Mail parsers: RFC822 messages and mbox archives (SURVEY.md §2 E5).

Reimplements the semantics of the reference's mail chain
(tika-parsers/.../mail/RFC822Parser.java + MailContentHandler.java:
headers → metadata, body parts walked recursively;
mbox/MboxParser.java:251: ``From `` separator splitting) on the stdlib
``email`` package:

- Subject → title (and an <h1>-equivalent first text line, matching
  MailContentHandler's body heading), From → Author, To/Cc/Date →
  metadata;
- text/plain parts decoded with their declared charset; text/html
  parts run through the HTML extraction chain (C1-C5);
- attachments (parts with a filename) surface as ``children`` and
  re-enter the pipeline through the F1 recursion — the reference's
  embedded-document machinery;
- mbox: each ``From ``-delimited message becomes a child
  (``msg-N.eml``), so one archive row explodes into per-message rows.
"""

from __future__ import annotations

import email
import email.header
import re

from tika_spark.config import ExtractConfig
from tika_spark.html.extract import extract_html
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

_MBOX_SEP = re.compile(rb"^From .*\d{4}\r?\n", re.MULTILINE)


def _hdr(msg, name: str) -> str | None:
    """Decoded, unfolded header value (RFC 2047 encoded-words).

    compat32 parsing + manual decode runs ~4x faster per message than
    policy.default's headerregistry (measured 2.8 -> 0.7 ms/msg on the
    fixture mix) while producing the same strings for the headers we
    surface.
    """
    raw = msg.get(name)
    if raw is None:
        return None
    raw = re.sub(r"\r?\n[ \t]", " ", str(raw))
    if "=?" not in raw:
        return raw
    try:
        pieces = []
        for chunk, enc in email.header.decode_header(raw):
            if isinstance(chunk, bytes):
                pieces.append(chunk.decode(enc or "ascii", "replace"))
            else:
                pieces.append(chunk)
        return "".join(pieces)
    except Exception:
        return raw


def _decoded_payload(part) -> bytes:
    try:
        return part.get_payload(decode=True) or b""
    except Exception:
        return b""


def _part_text(part, config: ExtractConfig) -> str:
    ctype = part.get_content_type()
    payload = _decoded_payload(part)
    if ctype == "text/html":
        return extract_html(payload, None, None, config)["text"]
    charset = part.get_content_charset() or "utf-8"
    try:
        text = payload.decode(charset, "replace")
    except LookupError:
        text = payload.decode("utf-8", "replace")
    # mime4j hands the handler decoded *lines*; CRLF normalizes to \n
    return text.replace("\r\n", "\n")


def extract_rfc822(data: bytes, url: str | None = None,
                   declared_type: str | None = None,
                   config: ExtractConfig = _DEFAULT) -> dict:
    data = bytes(data or b"")
    msg = email.message_from_bytes(data)

    metadata: dict[str, list[str]] = {
        "Content-Type": ["message/rfc822"]}
    subject = _hdr(msg, "Subject") or None
    if subject:
        metadata["title"] = [subject]
        metadata["subject"] = [subject]
    for header, key in (("From", "Author"), ("To", "Message-To"),
                        ("Cc", "Message-Cc"), ("Bcc", "Message-Bcc"),
                        ("Date", "date"), ("Message-ID", "Message-Id")):
        v = _hdr(msg, header)
        if v:
            metadata[key] = [v]

    parts: list[str] = []
    children: list[tuple[str, bytes]] = []
    if subject:
        parts.append(subject + "\n")  # the <h1> heading line
    for part in msg.walk():
        if part.is_multipart():
            continue
        filename = part.get_filename()
        if filename:
            if "=?" in filename:  # RFC 2047 encoded-word filenames
                try:
                    filename = "".join(
                        c.decode(e or "ascii", "replace")
                        if isinstance(c, bytes) else c
                        for c, e in email.header.decode_header(filename))
                except Exception:
                    pass
            children.append((filename, _decoded_payload(part)))
            continue
        if part.get_content_maintype() == "text":
            body = _part_text(part, config)
            if body:
                parts.append(body if body.endswith("\n") else body + "\n")

    text = safe_chars("".join(parts))
    return {
        "charset": None,
        "title": subject,
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": metadata,
        "status": "ok",
        "children": children,
    }


def extract_mbox(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT) -> dict:
    """Split an mbox into per-message children (MboxParser semantics);
    each child re-enters the pipeline as message/rfc822."""
    data = bytes(data or b"")
    starts = [m.start() for m in _MBOX_SEP.finditer(data)]
    children: list[tuple[str, bytes]] = []
    for n, s in enumerate(starts):
        e = starts[n + 1] if n + 1 < len(starts) else len(data)
        body = data[s:e]
        # drop the "From ..." envelope line itself
        nl = body.find(b"\n")
        children.append((f"msg-{n}.eml", body[nl + 1:] if nl >= 0
                         else body))
        if len(children) >= 1000:
            break
    text = "".join(name + "\n" for name, _ in children)
    return {
        "charset": None,
        "title": None,
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": {"Content-Type": ["application/mbox"],
                     "message-count": [str(len(children))]},
        "status": "ok",
        "children": children,
    }


_FOXMAIL_MARK = b"\x10" * 7 + b"\x11" * 6


def extract_foxmail(data: bytes, url: str | None = None,
                    declared_type: str | None = None,
                    config: ExtractConfig = _DEFAULT) -> dict:
    """Foxmail .box mail store: RFC822 messages delimited by the
    13-byte \x10*7 \x11*6 marker (+ one status tag byte + CRLF).
    Same child-explosion shape as mbox; each message re-enters the
    pipeline as message/rfc822. No reference counterpart (the
    corpus's testFOXMAIL.box sits in the reference's unparsed
    tail)."""
    data = bytes(data or b"")
    children: list[tuple[str, bytes]] = []
    if data.startswith(_FOXMAIL_MARK):
        parts = data.split(_FOXMAIL_MARK)
        for n, chunk in enumerate(p for p in parts if p):
            # skip the tag byte(s) up to the first CRLF
            nl = chunk.find(b"\r\n")
            body = chunk[nl + 2:] if nl >= 0 else chunk
            # container furniture: Foxmail writes empty-valued header
            # stubs (e.g. "Date: \r\n") before the real message —
            # drop them so the child starts at a real RFC822 header
            while True:
                m = re.match(rb"[!-9;-~]+:[ \t]*\r\n", body)
                if not m:
                    break
                body = body[m.end():]
            if b":" not in body[:256]:
                continue    # trailing binary index block, not a message
            children.append((f"msg-{n}.eml", body))
            if len(children) >= 1000:
                break
    text = "".join(name + "\n" for name, _ in children)
    return {
        "charset": None,
        "title": None,
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": {"Content-Type": ["application/x-foxmail"],
                     "message-count": [str(len(children))]},
        "status": "ok" if children else "metadata_only",
        "children": children,
    }


# ----------------------------------------------------------------- TNEF

# Attribute ids (level-prefixed stream, MS-OXTNEF §2.1; the reference
# parses these through poi-hsmf TNEFAttribute in
# tika-parsers/.../mail/... TNEF path). type word << 16 | id word.
_TNEF_SIGNATURE = 0x223E9F78
_ATT_SUBJECT = 0x8004
_ATT_BODY = 0x800C
_ATT_ATTACH_DATA = 0x800F
_ATT_ATTACH_TITLE = 0x8010
_ATT_ATTACH_REND = 0x9002   # starts a new attachment
_ATT_MSG_PROPS = 0x9003
_ATT_ATTACHMENT = 0x9005    # MAPI attachment property set
_PID_ATTACH_LONG_FILENAME = 0x3707
_PT_STRING8 = 0x001E
_PT_UNICODE = 0x001F


def _mapi_long_filename(blob: bytes) -> str | None:
    """Pull PidTagAttachLongFilename out of a MAPI property blob
    (count + [type|id, data] runs, MS-OXTNEF §2.1.3.3)."""
    try:
        if len(blob) < 4:
            return None
        count = int.from_bytes(blob[:4], "little")
        pos = 4
        for _ in range(min(count, 512)):
            if pos + 4 > len(blob):
                return None
            ptype = int.from_bytes(blob[pos:pos + 2], "little")
            pid = int.from_bytes(blob[pos + 2:pos + 4], "little")
            pos += 4
            if pid >= 0x8000:
                # named property: GUID + kind (+ name when kind=1)
                # precede the value (MS-OXTNEF 2.1.3.3.4)
                if pos + 20 > len(blob):
                    return None
                (kind,) = (int.from_bytes(blob[pos + 16:pos + 20],
                                          "little"),)
                pos += 20
                if kind == 1:
                    nlen = int.from_bytes(blob[pos:pos + 4], "little")
                    pos += 4 + ((nlen + 3) & ~3)
            # string/binary values ALWAYS carry the value-count dword,
            # even single-valued (MS-OXTNEF: these types are encoded
            # like their multi-valued forms)
            if ptype & 0x1000 or ptype in (_PT_STRING8, _PT_UNICODE,
                                           0x0102):
                nvals = int.from_bytes(blob[pos:pos + 4], "little")
                pos += 4
            else:
                nvals = 1
            if ptype in (_PT_STRING8, _PT_UNICODE, 0x0102,
                         0x101E, 0x101F, 0x1102):
                for _ in range(nvals):
                    if pos + 4 > len(blob):
                        return None
                    ln = int.from_bytes(blob[pos:pos + 4], "little")
                    pos += 4
                    val = blob[pos:pos + ln]
                    pos += (ln + 3) & ~3   # 4-byte aligned
                    if pid == _PID_ATTACH_LONG_FILENAME:
                        if ptype == _PT_UNICODE:
                            return val.decode("utf-16-le",
                                              "replace").rstrip("\x00")
                        return val.decode("cp1252",
                                          "replace").rstrip("\x00")
            elif ptype in (0x0002, 0x000B, 0x0003, 0x0004, 0x000A):
                pos += 4 * nvals   # 16/32-bit + bool, 4-byte aligned
            elif ptype in (0x0005, 0x0006, 0x0007, 0x0014, 0x0040):
                pos += 8 * nvals
            elif ptype == 0x0048:
                pos += 16 * nvals
            else:
                return None   # unknown fixed size: stop walking
    except Exception:
        return None
    return None


def extract_tnef(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT) -> dict:
    """winmail.dat (TNEF) extraction: walk the level-prefixed attribute
    stream; message body/subject become text/title, attachments become
    ``children`` for the F1 recursion (filename from attATTACHTITLE,
    overridden by the MAPI long filename when present)."""
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {
        "Content-Type": ["application/vnd.ms-tnef"]}
    if len(data) < 6 or int.from_bytes(data[:4], "little") != \
            _TNEF_SIGNATURE:
        return {"charset": None, "title": None, "text": "", "spans": [],
                "links": [], "metadata": metadata,
                "status": "error", "error": "bad TNEF signature",
                "children": []}

    pos = 6   # signature + attach key
    subject = None
    body_parts: list[str] = []
    children: list[tuple[str, bytes]] = []
    # per-attachment assembly state
    cur_data: bytes | None = None
    cur_title: str | None = None
    cur_long: str | None = None

    def flush():
        nonlocal cur_data, cur_title, cur_long
        # cap applies to attachments only — message-level attributes
        # (body/subject) keep parsing past it
        if cur_data is not None and len(children) < 1000:
            name = cur_long or cur_title or \
                f"attachment-{len(children)}.bin"
            children.append((name, cur_data))
        cur_data = cur_title = cur_long = None

    while pos + 9 <= len(data):
        level = data[pos]
        attr_id = int.from_bytes(data[pos + 1:pos + 3], "little")
        # attr type word at pos+3:pos+5 (unused beyond the id split)
        length = int.from_bytes(data[pos + 5:pos + 9], "little")
        pos += 9
        if length > len(data) - pos:
            break
        payload = data[pos:pos + length]
        pos += length + 2   # + checksum
        if level == 1:      # message attributes
            if attr_id == _ATT_SUBJECT:
                subject = payload.decode("cp1252",
                                         "replace").rstrip("\x00")
            elif attr_id == _ATT_BODY:
                body_parts.append(
                    payload.decode("cp1252", "replace").rstrip("\x00"))
        elif level == 2:    # attachment attributes
            if attr_id == _ATT_ATTACH_REND:
                flush()
            elif attr_id == _ATT_ATTACH_DATA:
                cur_data = payload
            elif attr_id == _ATT_ATTACH_TITLE:
                cur_title = payload.decode("cp1252",
                                           "replace").rstrip("\x00")
            elif attr_id == _ATT_ATTACHMENT:
                cur_long = _mapi_long_filename(payload) or cur_long
    flush()

    if subject:
        metadata["title"] = [subject]
        metadata["subject"] = [subject]
    pieces = []
    if subject:
        pieces.append(subject + "\n")
    for b in body_parts:
        pieces.append(b if b.endswith("\n") else b + "\n")
    text = safe_chars("".join(pieces))
    return {
        "charset": None,
        "title": subject,
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": metadata,
        "status": "ok",
        "children": children,
    }
