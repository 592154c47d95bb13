"""Structured-database parsers: SQLite and dBase DBF (SURVEY.md §2 E12
family widening).

The reference routes ``application/x-sqlite3`` through a JDBC-backed
table walker (tika-parsers/.../jdbc/SQLite3Parser.java +
AbstractDBParser.java): every user table is emitted as an XHTML table
— table name, a header row of column names, then one row per record —
and BLOB cells become embedded documents that re-enter the parse
chain. ``application/x-dbf`` goes through a fixed-width record reader
(tika-parsers/.../dbf/DBFReader.java) with the same table-shaped
output.

Both are re-expressed here against the C5 layout contract (cells
TAB-joined, one row per line) so text output is deterministic and
oracle-checkable. SQLite files are opened fully in memory via
``sqlite3.Connection.deserialize`` — no temp-file spooling, which
keeps the executor-side parse O(row bytes) with no disk dependency
(the A2 design decision).
"""

from __future__ import annotations

import sqlite3
import struct

from tika_spark.config import ExtractConfig, output_budget

_DEFAULT = ExtractConfig()

_MAX_TABLES = 100
_MAX_ROWS = 10000
_MAX_BLOB_CHILDREN = 100


def _fmt_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        # match DuckDB/SQL rendering for integral floats (1.0 -> '1.0')
        return repr(v)
    if isinstance(v, bytes):
        return ""          # blob cells surface as children, not text
    return str(v)


def extract_sqlite(data: bytes, url: str | None = None,
                   declared_type: str | None = None,
                   config: ExtractConfig = _DEFAULT) -> dict:
    """Parse a SQLite database file: per-table text + BLOB children.

    Table order follows ``sqlite_master`` (creation order), matching
    the reference's metadata-driven walk; internal ``sqlite_*``
    tables are skipped. Output is capped by the standard output
    budget plus hard table/row caps (zip-bomb posture)."""
    data = bytes(data or b"")
    budget = output_budget(len(data))
    conn = sqlite3.connect(":memory:")
    error = None
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    children: list[tuple[str, bytes]] = []
    tables: list[str] = []
    truncated = False
    try:
        conn.deserialize(data)
        cur = conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "AND name NOT LIKE 'sqlite_%'")
        tables = [r[0] for r in cur.fetchall()[:_MAX_TABLES]]
        used = 0
        pos = 0
        for t in tables:
            if used >= budget:
                truncated = True
                break
            # quote the identifier defensively; names come from the
            # file being parsed
            qt = '"' + t.replace('"', '""') + '"'
            cur = conn.execute(f"SELECT * FROM {qt}")
            cols = [d[0] for d in cur.description]
            spans.append((pos, pos + len(t), "table"))
            header = "\t".join(cols)
            block = [t, header]
            pos += len(t) + 1 + len(header) + 1
            used += len(t) + len(header) + 2
            n_rows = 0
            for row in cur:
                if n_rows >= _MAX_ROWS or used >= budget:
                    truncated = True
                    break
                cells = []
                for ci, v in enumerate(row):
                    if isinstance(v, bytes) and v:
                        if len(children) < _MAX_BLOB_CHILDREN:
                            children.append(
                                (f"{t}/{n_rows}/{cols[ci]}", v))
                    cells.append(_fmt_cell(v))
                line = "\t".join(cells)
                block.append(line)
                pos += len(line) + 1
                used += len(line) + 1
                n_rows += 1
            parts.append("\n".join(block) + "\n")
    except (sqlite3.Error, ValueError, OverflowError) as e:
        error = f"sqlite: {e!r}"[:1000]
    finally:
        conn.close()
    text = "".join(parts)
    return {
        "charset": None, "title": None, "text": text, "spans": spans,
        "links": [],
        "metadata": {"Content-Type": ["application/x-sqlite3"],
                     "Database-Tables": tables or [""]},
        "status": ("error" if error else
                   "output_limit" if truncated else "ok"),
        "error": error,
        "children": children,
    }


# ------------------------------------------------------------- DBF --

_DBF_VERSIONS = {0x02, 0x03, 0x04, 0x05, 0x30, 0x31, 0x32, 0x83,
                 0x8B, 0x8E, 0xF5}


def extract_dbf(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    """Parse a dBase .dbf table: header row of field names, then one
    TAB-joined line per (non-deleted) record, values trimmed — the
    reference DBFReader's cell semantics. Memo (M) fields render as
    their block number; the .dbt sidecar is a separate file upstream
    and never reaches this parser."""
    data = bytes(data or b"")
    budget = output_budget(len(data))
    error = None
    text = ""
    truncated = False
    n_records = 0
    try:
        if len(data) < 33 or data[0] not in _DBF_VERSIONS:
            raise ValueError("not a dbf header")
        n_records = struct.unpack_from("<I", data, 4)[0]
        header_size, record_size = struct.unpack_from("<HH", data, 8)
        fields = []       # (name, type, length)
        p = 32
        while p + 32 <= len(data) and data[p] != 0x0D and p < header_size:
            name = data[p:p + 11].split(b"\x00", 1)[0] \
                .decode("latin-1", "replace")
            ftype = chr(data[p + 11])
            flen = data[p + 16]
            fields.append((name, ftype, flen))
            p += 32
        if not fields or record_size < 1 + sum(f[2] for f in fields):
            raise ValueError("bad dbf field table")
        lines = ["\t".join(f[0] for f in fields)]
        used = len(lines[0]) + 1
        pos = header_size
        shown = 0
        for _ in range(min(n_records, _MAX_ROWS)):
            # a final record cut short only loses tail padding/value
            # bytes — decode what's present, then stop (DBFReader
            # keeps rows already emitted when the stream ends early)
            if pos + 1 >= len(data) or used >= budget:
                truncated = truncated or used >= budget
                break
            rec = data[pos:pos + record_size]
            pos += record_size
            if rec[0:1] == b"*":      # deleted record
                continue
            cells = []
            off = 1
            for _, ftype, flen in fields:
                raw = rec[off:off + flen]
                off += flen
                cells.append(raw.decode("latin-1", "replace").strip())
            line = "\t".join(cells)
            lines.append(line)
            used += len(line) + 1
            shown += 1
        text = "\n".join(lines) + "\n"
    except (ValueError, struct.error) as e:
        error = f"dbf: {e!r}"[:1000]
    return {
        "charset": None, "title": None, "text": text, "spans": [],
        "links": [],
        "metadata": {"Content-Type": ["application/x-dbf"],
                     "Record-Count": [str(n_records)]},
        "status": ("error" if error else
                   "output_limit" if truncated else "ok"),
        "error": error,
        "children": [],
    }
