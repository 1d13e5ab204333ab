"""Re-read a zip importer's directory only when its archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), worker reuse or
not.  Before CPython 3.12 that makes every ``zipimporter`` on the path
re-parse its archive's whole central directory in pure Python: pyspark.zip
alone holds one importer per imported subpackage, so a task paid
150-350 ms before its first row.  3.12 made the re-read lazy (gh-103200).

Here an importer re-reads only when its archive's ``(st_mtime_ns,
st_size, st_ino)`` differs from the stamp taken before its last re-read.
The first call per importer and a failed ``stat`` re-read as before.  A
zip added later is a new path entry with a new importer, directory
finders are still invalidated, and a replaced archive changes its stamp
(only an in-place rewrite to the same size within one mtime tick would
not, and Spark does not let ``addFile``/``addPyFile`` replace a file under
the same name), so whatever was importable after a full re-read still is.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Gate ``zipimporter.invalidate_caches``; idempotent, and a no-op on 3.12+."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(reread, "archive_gated", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.archive_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
