"""The zip importer gate: ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed on disk, in the test
process and inside the executor's Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import localmod_spark  # noqa: F401  (installs the gate)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily itself"
)

MODULE = "lmspark_gate_probe"


def _write_archive(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MODULE}.py", body)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    assert importlib.import_module(MODULE).VALUE == 1
    importlib.invalidate_caches()  # the first call per importer still reads

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    importlib.invalidate_caches()
    assert archive not in reads

    _write_archive(archive, "VALUE = 'rewritten'\n")  # a different size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == "rewritten"

    os.remove(archive)  # stat fails: re-read as before, every time
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 3
    del sys.modules[MODULE]


def test_workers_run_the_gated_invalidate_caches(spark):
    @F.pandas_udf("boolean")
    def gated(s: pd.Series) -> pd.Series:
        import zipimport

        import localmod_spark  # noqa: F401

        installed = getattr(zipimport.zipimporter.invalidate_caches, "archive_gated", False)
        return pd.Series([installed] * len(s))

    rows = spark.range(0, 8, numPartitions=2).select(gated("id").alias("g")).collect()
    assert [r.g for r in rows] == [True] * 8
