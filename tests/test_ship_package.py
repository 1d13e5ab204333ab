"""The package zip executors import is built in a private staging dir,
and only for contexts whose workers do not fork from the package's own
worker daemon."""

import os
import stat
import tempfile
import zipfile

from localmod_spark.session import ship_package

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Context:
    def __init__(self, conf=None):
        self.added = []
        self.conf = dict(conf or {})

    def getConf(self):
        return self.conf

    def addPyFile(self, path):
        self.added.append(path)


def test_package_zip_is_staged_in_a_private_dir_once_per_context():
    sc = _Context()
    zip_path = ship_package(sc, REPO)
    staging = os.path.dirname(zip_path)
    st = os.stat(staging)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert os.path.realpath(staging) != os.path.realpath(tempfile.gettempdir())
    assert "localmod_spark/__init__.py" in zipfile.ZipFile(zip_path).namelist()
    assert ship_package(sc, REPO) == zip_path
    assert sc.added == [zip_path]


def test_stock_daemon_context_gets_the_zip():
    sc = _Context({"spark.python.daemon.module": "pyspark.daemon"})
    assert ship_package(sc, REPO) is not None
    assert len(sc.added) == 1


def test_get_spark_session_ships_nothing(spark):
    """The shared session comes from get_spark on a local master: its
    workers import the repo's package through the worker daemon."""
    import __spark_entry__ as em

    em._ship_package(spark)
    assert ship_package(spark.sparkContext, REPO) is None
    assert not any("localmod_spark" in p for p in spark.sparkContext._python_includes)
