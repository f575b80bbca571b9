"""Python-worker daemon that re-reads a zip archive only when it changed.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
Before every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 makes every
``zipimporter`` on the worker path re-read its archive's whole directory
(``pyspark.zip``, the py4j zip and the spark-core jar: ~38 ms per task).
Here each archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the one its cached directory was read at. The stamps of the
archives on the path are taken once, at daemon start, so forked workers
inherit them; every archive follows the same rule, so a zip added with
``addPyFile``, or overwritten later, is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}   # archive path -> stamp of its cached directory


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches``, skipped for an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive,
                                                         self._files)
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Guard ``invalidate_caches`` and stamp the archives on ``sys.path``."""
    for path in sys.path:
        if path and os.path.isfile(path):
            _stamps[path] = _stamp(path)
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
