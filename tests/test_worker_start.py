"""Python task start: unchanged zip archives on sys.path are not re-read.

``importlib.invalidate_caches()`` runs at every PySpark task start; the
replacement installed by ``tika_spark._zipcache`` makes it re-read a
zipimporter's directory only when the archive changed on disk.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import tika_spark  # importing installs the replacement
from tika_spark import _zipcache


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    original = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_first.py", "VALUE = 1\n")
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    import zc_first
    assert zc_first.VALUE == 1
    assert isinstance(sys.path_importer_cache[zip_on_path],
                      zipimport.zipimporter)
    importlib.invalidate_caches()          # first re-read records the key
    assert reads.count(zip_on_path) == 2   # constructor + first re-read
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 2


def test_appended_member_is_reread_and_importable(zip_on_path, reads):
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zc_second  # noqa: F401
    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("zc_second.py", "VALUE = 2\n")
    before = reads.count(zip_on_path)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == before + 1
    import zc_second
    assert zc_second.VALUE == 2


def test_install_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    importlib.reload(_zipcache)
    importlib.reload(tika_spark)
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not getattr(wrapped.__wrapped__, _zipcache._MARK, False)


_WORKER_SCRIPT = r"""
import os, sys
sys.path.insert(0, __REPO__)
import pandas as pd
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from tika_spark.pipeline.job import extract

# local[1]: one reused Python worker runs every task below
s = (SparkSession.builder.master("local[1]")
     .appName("worker-start-test")
     .config("spark.sql.shuffle.partitions", "2")
     .config("spark.ui.enabled", "false").getOrCreate())
s.sparkContext.setLogLevel("ERROR")
pages = s.range(8).select(
    F.concat(F.lit("http://t/p"), F.col("id")).alias("url"),
    F.encode(F.concat(F.lit("<html><body><p>b"), F.col("id").cast("string"),
                      F.lit("</p></body></html>")), "UTF-8").alias("html"))
assert extract(pages, mode="text", repartition=2).count() == 8


def count_reads(batches):
    import zipimport
    zips = any(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    armed = hasattr(zipimport._read_directory, "calls")
    if not armed:
        read = zipimport._read_directory
        def counting(path):
            counting.calls += 1
            return read(path)
        counting.calls = 0
        zipimport._read_directory = counting
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "armed": [armed],
                        "zips": [zips],
                        "calls": [zipimport._read_directory.calls]})


schema = "pid long, armed boolean, zips boolean, calls long"
one = s.range(1, numPartitions=1)
arm = one.mapInPandas(count_reads, schema).collect()[0]
got = one.mapInPandas(count_reads, schema).collect()[0]
s.stop()
assert not arm.armed and got.armed and arm.pid == got.pid, (arm, got)
print("ZIPS=%d CALLS=%d" % (got.zips, got.calls))
"""


def test_reused_worker_task_start_rereads_nothing():
    """A second task in a reused worker, after an ``extract()`` job
    imported the package there, re-reads no zip directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT.replace("__REPO__", repr(repo))],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("ZIPS=")][-1]
    zips, calls = (int(kv.split("=")[1]) for kv in line.split())
    if not zips:
        pytest.skip("worker imports nothing from a zip archive")
    assert calls == 0, line
