"""PySpark worker daemon whose zip importers skip unchanged archives.

Every Python task starts with ``importlib.invalidate_caches()`` (PySpark's
``setup_spark_files``). On Python 3.10-3.12 that makes each cached
``zipimporter`` re-read its archive's central directory, and the workers'
``sys.path`` holds ``pyspark.zip`` and the 37 MB ``spark-core`` jar: 0.2-0.3 s
of CPU before the first batch of every task, reused workers included.
Registered as ``spark.python.daemon.module`` (``session.DEFAULT_CONF``), this
daemon re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since the importer last read it, then runs the stock ``pyspark.daemon``
manager; the forked workers inherit the patch.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps an unchanged archive."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp the importers every worker inherits
    manager()
