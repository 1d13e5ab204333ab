"""The Python worker daemon runs from the installed pyspark's bytecode on
local masters, keeps ``pyspark.zip`` when the versions differ (and says
so), and leaves no process behind once the JVM is gone."""

import json
import os
import subprocess
import sys
import zipfile

import pandas as pd
import pyspark
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from localmod_spark._worker_daemon import bytecode_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_zip(tmp_path, version: str, daemon: str = "") -> str:
    archive = str(tmp_path / "lib" / "pyspark.zip")
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
        z.writestr("pyspark/daemon.py", daemon)
    return archive


def _fake_package(tmp_path, version: str) -> str:
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(site)


def test_zip_is_dropped_only_for_an_installed_copy_of_its_version(tmp_path):
    archive = _fake_zip(tmp_path, "4.1.2")
    py4j = str(tmp_path / "lib" / "py4j-src.zip")
    same = _fake_package(tmp_path / "same", "4.1.2")
    other = _fake_package(tmp_path / "other", "4.0.0")

    assert bytecode_path([archive, py4j, same]) == ([py4j, same], None)

    path = [archive, py4j, other]
    kept, why = bytecode_path(path)
    assert kept == path and "4.0.0" in why and "4.1.2" in why

    path = [archive, py4j]
    assert bytecode_path(path) == (path, "no other pyspark on the path")

    assert bytecode_path([py4j, same]) == ([py4j, same], None)  # no zip: nothing to drop


def test_mismatched_zip_runs_the_zips_daemon_and_says_so(tmp_path):
    """With a zip whose version the installed pyspark does not have, the
    daemon module keeps the zip and runs the zip's ``daemon.manager``."""
    archive = _fake_zip(
        tmp_path, "0.0.0", "def manager():\n    import pyspark\n    print(pyspark.__file__)\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([archive, REPO]))
    out = subprocess.run(
        [sys.executable, "-m", "localmod_spark._worker_daemon", "pyspark.worker"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == os.path.join(archive, "pyspark", "__init__.py")
    assert out.stderr.count("keeping pyspark.zip") == 1
    assert "is not the zip's 0.0.0" in out.stderr


def test_only_local_masters_get_the_daemon_module(monkeypatch):
    from localmod_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    local = get_spark(master="local[2]")
    assert local["spark.python.daemon.module"] == "localmod_spark._worker_daemon"
    assert local["spark.executorEnv.PYTHONPATH"] == REPO
    for master in ("spark://cluster:7077", "yarn", "local-cluster[2,1,1024]"):
        options = get_spark(master=master)
        assert "spark.python.daemon.module" not in options
        assert "spark.executorEnv.PYTHONPATH" not in options


def test_workers_import_the_installed_pyspark_and_stay_gated(spark):
    @F.pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import zipimport

        import pyspark

        gated = getattr(zipimport.zipimporter.invalidate_caches, "archive_gated", False)
        return s.map(lambda _: json.dumps([pyspark.__file__, gated]))

    rows = spark.range(0, 8, numPartitions=4).select(origin(F.col("id").cast("string"))).collect()
    for worker_file, gated in {tuple(json.loads(r[0])) for r in rows}:
        assert ".zip" not in worker_file
        assert worker_file == pyspark.__file__
        assert gated == (sys.version_info < (3, 12))


_LEFTOVERS = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F
from localmod_spark.session import get_spark

def stat(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return fields[0], int(fields[1]), int(fields[2])  # state, ppid, pgrp

def processes():
    out = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                out[int(p)] = stat(p)
            except OSError:
                pass
    return out

def daemon_pids():
    procs = processes()
    tree, todo = set(), [os.getpid()]
    while todo:
        parent = todo.pop()
        kids = [p for p, (_, ppid, _) in procs.items() if ppid == parent]
        tree.update(kids)
        todo += kids
    found = set()
    for p in tree:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv[1:3] == [b"-m", b"localmod_spark._worker_daemon"]:
            found.add(p)
    return found

spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

spark.range(0, 64, numPartitions=2).select(plus_one("id")).collect()
pids = daemon_pids()
groups = {stat(p)[2] for p in pids}

gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=60)

deadline = time.time() + 20
while True:
    left = sorted(p for p, (state, _, pgrp) in processes().items()
                  if (p in pids or pgrp in groups) and state != "Z")
    if not left or time.time() > deadline:
        break
    time.sleep(0.2)
print(json.dumps({"daemon_pids": sorted(pids), "left": left}))
"""


def test_no_daemon_or_worker_outlives_the_jvm(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _LEFTOVERS % {"repo": REPO}],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["daemon_pids"], "the job ran without the localmod_spark daemon"
    assert result["left"] == []
