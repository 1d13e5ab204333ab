"""The package zip executors import is built in a private staging dir."""

import os
import stat
import tempfile
import zipfile

from localmod_spark.session import ship_package

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Context:
    def __init__(self):
        self.added = []

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
