"""PySpark worker daemon that skips re-reading unchanged zip archives.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes each
cached ``zipimporter`` re-read its archive's whole central directory: about
0.2 s a task for the ``pyspark.zip``, py4j and spark-core jar entries on the
worker PYTHONPATH. Here an importer re-reads only when its archive's
``(st_ino, st_size, st_mtime_ns)`` changed since it last read it. Spark starts
this module as ``spark.python.daemon.module`` (``session.get_spark``). Its
directory holds nothing else, and the working directory ``python -m`` puts
first on ``sys.path`` is dropped, so workers import the engine from the
package zip the session ships, in local mode as on a cluster.
"""

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads a changed archive only."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_graft_stamp", None):
        _stock_invalidate(self)
        self._graft_stamp = stamp


if __name__ == "__main__":
    if not sys.flags.safe_path:
        del sys.path[0]
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read and stamp the importers the daemon's imports made, once, so the
    # workers it forks inherit them stamped
    importlib.invalidate_caches()
    manager()
