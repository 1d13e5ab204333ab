"""PySpark's worker daemon, run from the installed pyspark's bytecode.

    python -m localmod_spark._worker_daemon pyspark.worker

``get_spark`` sets this module as ``spark.python.daemon.module`` on local
masters.  The JVM puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the
daemon's path, and zipimport never caches bytecode: on CPython 3.11 the
daemon compiled ``pyspark.worker`` and its imports from source, about 1.1 s
in every new SparkContext, against 0.25 s from an installed pyspark's
``__pycache__``.

Before anything imports pyspark, ``bytecode_path`` drops ``pyspark.zip``
from ``sys.path`` when the pyspark that the rest of the path finds has the
zip's ``__version__``; the daemon then runs ``pyspark.daemon.manager()``
unchanged, so the JVM's socket protocol and its shutdown on stdin close
stay as they are.  When the zip stays, one stderr line says why.  Forked
workers inherit the path and the zip importer gate that importing
``localmod_spark`` installed.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _version(source: bytes) -> str | None:
    m = _VERSION.search(source.decode("utf-8", "replace"))
    return m.group(1) if m else None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def bytecode_path(path: list[str]) -> tuple[list[str], str | None]:
    """``path`` without its ``pyspark.zip`` entries, or ``path`` unchanged
    and the reason it keeps them: no other pyspark on the rest of the path,
    or one whose ``version.py`` differs from the zip's."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path, None
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or spec.origin is None:
        return path, "no other pyspark on the path"
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        found = _version(spec.loader.get_data(version_py))
    except OSError:
        found = None
    wanted = _zip_version(zips[0])
    if found is None or found != wanted:
        return path, f"pyspark {found} at {os.path.dirname(spec.origin)} is not the zip's {wanted}"
    return rest, None


if __name__ == "__main__":
    path, kept = bytecode_path(sys.path)
    sys.path[:] = path
    if kept is not None:
        print(f"localmod_spark worker daemon: keeping pyspark.zip: {kept}", file=sys.stderr, flush=True)
    from pyspark import daemon

    daemon.manager()
