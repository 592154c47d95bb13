"""The query registry behind ``__spark_entry__`` (no Spark session).

- ``queries()`` and ``oracle_sql()`` are views of one record per query:
  238 names, an oracle on all but the three rows-only queries;
- every builder takes ``(spark, sf_dir)``;
- every name ``bench.py`` imports from the entry module exists;
- ``tools/check_oracles.py`` rejects an unregistered query name.
"""

import ast
import inspect
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
ROWS_ONLY = {"ann_lsh_topk", "ann_ivf_topk", "unigram_train_pieces"}


@pytest.fixture(scope="module")
def entry():
    sys.path.insert(0, str(REPO))
    import __spark_entry__
    return __spark_entry__


def test_names_and_oracles(entry):
    names = list(entry.queries())
    assert len(names) == len(set(names)) == 238
    oracles = entry.oracle_sql()
    assert len(oracles) == 235
    assert set(names) - set(oracles) == ROWS_ONLY
    assert set(oracles) <= set(names)
    assert all(isinstance(sql, str) and sql.strip()
               for sql in oracles.values())


def test_duplicate_name_rejected(entry):
    with pytest.raises(ValueError, match="registered twice"):
        entry.query("extract_html_text", oracle=None)(lambda s, d: None)


def test_builders_take_spark_and_sf_dir(entry):
    for name, build in entry.queries().items():
        params = list(inspect.signature(build).parameters)
        assert params == ["spark", "sf_dir"], name


def test_bench_imports_exist(entry):
    tree = ast.parse((REPO / "bench.py").read_text())
    imported = [a.name for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                and node.module == "__spark_entry__"
                for a in node.names]
    assert imported
    for name in imported:
        assert hasattr(entry, name), name


def test_check_oracles_rejects_unknown_name(tmp_path):
    proc = subprocess.run(
        [sys.executable, "tools/check_oracles.py", str(tmp_path),
         "extract_htlm_text"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode != 0
    assert "extract_htlm_text" in proc.stderr
