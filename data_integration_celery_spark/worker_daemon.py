"""PySpark worker daemon whose zip importers re-read an archive only when it
changed on disk.

PySpark's worker ends every task's set-up with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython ≤ 3.11 each
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory, and a worker holds 16 of them over ``pyspark.zip`` and
py4j's zip: 130–220 ms of CPU on every task (4-vCPU VM). This daemon is the
stock ``pyspark.daemon`` with one method replaced, and with pandas and pyarrow
imported before it forks its workers; the session names it in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's (inode, size, mtime) is the one this importer last read.

    The stamp lives on the importer, not per archive: several importers share
    one archive and each holds its own ``_files``.
    """
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _stock_invalidate(self)
        self._stamp = stamp


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # Arrow tasks (mapInPandas, applyInPandas, pandas UDFs) import pandas and
    # pyarrow: ~300 ms of CPU on each forked worker's first such task when
    # the worker imports them, ~17 ms when it inherits them copy-on-write
    for name in ("pandas", "pyarrow"):
        try:
            importlib.import_module(name)
        except ImportError:  # optional: plain-RDD and Python-UDF work runs on
            pass
    # stamp the importers the daemon already holds, so forked workers inherit
    # them instead of each re-reading every archive on its first task
    importlib.invalidate_caches()
    pyspark.daemon.manager()
