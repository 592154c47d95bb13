"""The extraction stage is Arrow in, Arrow out, with no pandas.

``job.extract`` runs ``stages.make_extract_fn`` as a ``mapInArrow``:
record batches in, one ``pa.RecordBatch`` of ``stages.ARROW_SCHEMA``
out. These tests pin that every output column crosses that boundary
with the values ``process_batch`` (the pandas entry over the same
per-row core) gives, and that the Python worker never imports pandas.
"""

import datetime
import io
import json
import os
import subprocess
import sys
import zipfile

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from tika_spark.config import MODES, ExtractConfig
from tika_spark.pipeline import stages
from tika_spark.pipeline.job import extract, extract_recursive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_bytes() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.txt", "alpha member text")
        z.writestr("img.bin", bytes(range(256)) * 4)
    return buf.getvalue()


_HTML = (b"<html><head><title>T</title>"
         b"<meta name='keywords' content='a'>"
         b"<meta name='keywords' content='b'></head><body><h1>Head</h1>"
         b"<p>Some <a href='/l' title='tt'>link</a> text here.</p>"
         b"</body></html>")

# (url, warc_ts, html, declared_type): spans, links and multi-valued
# metadata (html), children with binary data (zip), an error row, a
# null warc_ts, a null payload and a declared type
_ROWS = [
    ("http://t/page.html", datetime.datetime(2026, 3, 1, 12, 30), _HTML,
     None),
    ("http://t/a.zip", datetime.datetime(2026, 3, 2), _zip_bytes(), None),
    ("http://t/bad.zip", None, b"PK\x03\x04garbage", None),
    ("http://t/doc.rtf", datetime.datetime(2026, 3, 3), b"{\\rtf1 x",
     "application/rtf"),
    ("http://t/none", datetime.datetime(2026, 3, 4), None, None),
    ("http://t/plain", None, "plain text body".encode(), "text/plain"),
]
_SCHEMA = "url string, warc_ts timestamp, html binary, declared_type string"


def _plain(value):
    """Spark and pandas values in one comparable form."""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, dict):
        return [(k, _plain(v)) for k, v in value.items()]
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value


def _rows(records, drop=("warc_ts", "part_id", "batch_ms")):
    return sorted(({k: _plain(v) for k, v in r.items() if k not in drop}
                   for r in records), key=lambda r: r["url"])


def _collect(df):
    """Rows as dicts; ``metadata`` keeps its map entry order (a
    collected MapType arrives as a hash map, so it is collected as
    its entries)."""
    rows = df.withColumn("metadata", F.map_entries("metadata")).collect()
    out = [r.asDict(recursive=True) for r in rows]
    for r in out:
        r["metadata"] = {e["key"]: e["value"] for e in r["metadata"]}
    return out


def _batch_rows(urls, html, declared=None):
    cols = {"url": urls, "html": html}
    if declared is not None:
        cols["declared_type"] = declared
    out = stages.process_batch(pd.DataFrame(cols), ExtractConfig())
    return out.to_dict("records")


def test_arrow_schema_is_sparks_conversion(spark):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string
    want = to_arrow_schema(_parse_datatype_string(stages.EXTRACT_SCHEMA))
    assert stages.ARROW_SCHEMA.equals(want)
    assert stages.OUTPUT_COLUMNS == want.names


def test_to_arrow_matches_pa_array():
    values = {
        "url": ["a", None, "ü"],
        "lang_distance": [0.5, None, 1.0],
        "n_bytes": [1, 0, 2 ** 40],
        "spans": [[(0, 3, "content")], [], None],
        "links": [[("a", "u", None, "t"), ("img", "v", "w", "")], [], []],
        "metadata": [{"k": ["a", "b"], "j": []}, {}, None],
        "children": [[("m", b"\x00\xff")], [], [("n", b"")]],
    }
    for name, vals in values.items():
        arrow_type = stages.ARROW_SCHEMA.field(name).type
        got = stages._to_arrow(vals, arrow_type)
        got.validate(full=True)
        assert got.equals(pa.array(vals, arrow_type)), name
    with pytest.raises(OverflowError):
        stages._to_arrow([[(0, 2 ** 31, "x")]],
                         stages.ARROW_SCHEMA.field("spans").type)


def test_every_column_crosses_the_stage(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    got = _collect(extract(df))
    want = _batch_rows([r[0] for r in _ROWS], [r[2] for r in _ROWS],
                       [r[3] for r in _ROWS])
    assert _rows(got) == _rows(want)
    # the rows exercise every column
    by_url = {r["url"]: r for r in got}
    assert by_url["http://t/page.html"]["spans"]
    assert by_url["http://t/page.html"]["links"]
    assert by_url["http://t/page.html"]["metadata"]["keywords"] == ["a", "b"]
    assert by_url["http://t/bad.zip"]["status"] == "error"
    assert by_url["http://t/bad.zip"]["error"]
    assert [c["name"] for c in by_url["http://t/a.zip"]["children"]] == [
        "a.txt", "img.bin"]
    assert bytes(by_url["http://t/a.zip"]["children"][1]["data"]) == \
        bytes(range(256)) * 4
    # warc_ts passes through unchanged, nulls included
    ts = {r[0]: r[1] for r in _ROWS}
    assert {u: r["warc_ts"] for u, r in by_url.items()} == ts
    assert all(r["part_id"] >= 0 and r["batch_ms"] >= 0 for r in got)


def test_absent_optional_inputs_are_null(spark):
    df = spark.createDataFrame([(r[0], r[2]) for r in _ROWS],
                               "url string, html binary")
    got = _collect(extract(df))
    assert all(r["warc_ts"] is None for r in got)
    want = _batch_rows([r[0] for r in _ROWS], [r[2] for r in _ROWS])
    assert _rows(got) == _rows(want)
    # a payload alone: the url is null too
    solo = spark.createDataFrame([(_HTML,)], "html binary")
    (row,) = extract(solo).collect()
    assert row["url"] is None and row["warc_ts"] is None
    assert row["status"] == "ok"


def test_recursive_members_match_the_batch_entry(spark):
    df = spark.createDataFrame([_ROWS[1]], _SCHEMA)
    got = [r for r in _collect(extract_recursive(df)) if r["depth"] == 1]
    (parent,) = _batch_rows([_ROWS[1][0]], [_ROWS[1][2]])
    members = parent["children"]
    want = _batch_rows([f"{_ROWS[1][0]}!/{c['name']}" for c in members],
                       [c["data"] for c in members])
    assert _rows(got, drop=("warc_ts", "part_id", "batch_ms", "depth")) \
        == _rows(want, drop=("warc_ts", "part_id", "batch_ms", "children"))
    assert len(got) == 2


_STAGE_SCRIPT = r"""
import json, sys
sys.path.insert(0, __REPO__)
import pyarrow as pa
from tika_spark.config import ExtractConfig
from tika_spark.pipeline.stages import make_extract_fn

with pa.ipc.open_stream(sys.argv[1]) as reader:
    batches = list(reader)
rows = {}
for mode in sys.argv[2:]:
    out = list(make_extract_fn(ExtractConfig(mode=mode))(iter(batches)))
    for b in out:
        b.validate(full=True)
    rows[mode] = sum(b.num_rows for b in out)
print(json.dumps({"rows": rows, "pandas": "pandas" in sys.modules}))
"""


def test_stage_function_never_imports_pandas(tmp_path):
    from tika_spark.fixtures.pages import generate_pages_pandas
    # built here: the page generators import pandas themselves
    pages = generate_pages_pandas(60, seed=5)[["url", "warc_ts", "html"]]
    table = pa.Table.from_pandas(pages, preserve_index=False)
    path = str(tmp_path / "pages.arrows")
    with pa.OSFile(path, "wb") as f, \
            pa.ipc.new_stream(f, table.schema) as writer:
        writer.write_table(table, max_chunksize=16)
    proc = subprocess.run(
        [sys.executable, "-c",
         _STAGE_SCRIPT.replace("__REPO__", repr(REPO)), path, *MODES],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == {m: 60 for m in MODES}
    assert got["pandas"] is False


_WORKER_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, __REPO__)
from pyspark.sql import SparkSession
from tika_spark.fixtures.pages import generate_pages_pandas
from tika_spark.pipeline.job import extract

s = (SparkSession.builder.master("local[2]")
     .appName("pandas-free-worker-test")
     .config("spark.sql.shuffle.partitions", "2")
     .config("spark.ui.enabled", "false").getOrCreate())
s.sparkContext.setLogLevel("ERROR")
# the pages are staged from the driver: generating them in the
# workers would import pandas there
path = os.path.join(sys.argv[1], "pages.parquet")
generate_pages_pandas(40, seed=2)[["url", "warc_ts", "html"]] \
    .to_parquet(path, coerce_timestamps="us")
assert extract(s.read.parquet(path), mode="text").count() == 40


def probe(batches):
    import sys
    import pyarrow as pa
    from tika_spark.pipeline.stages import _to_arrow
    loaded = ["pandas" in sys.modules,
              "tika_spark.pipeline.stages" in sys.modules]
    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays(
        [_to_arrow([os.getpid()], pa.int64()),
         _to_arrow([json.dumps(loaded)], pa.string())],
        names=["pid", "loaded"])


rows = s.range(0, 8, numPartitions=8).mapInArrow(
    probe, "pid long, loaded string").collect()
print(json.dumps([[r["pid"], *json.loads(r["loaded"])] for r in rows]))
s.stop()
"""


def test_python_workers_stay_pandas_free(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c",
         _WORKER_SCRIPT.replace("__REPO__", repr(REPO)), str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(rows) == 8
    assert any(stages_loaded for _pid, _pandas, stages_loaded in rows)
    assert not any(has_pandas for _pid, has_pandas, _stages in rows)
