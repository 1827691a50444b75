"""Python worker daemon: ``pyspark.daemon`` with lazy zip-archive reloads.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files added by ``addPyFile``
are seen. On Python < 3.12 that makes every cached ``zipimporter``
re-parse its archive's directory in pure Python: a warm worker holds one
importer per package directory it imported from ``pyspark.zip`` (plus
the spark-core jar and the py4j zip), and the re-reads cost about 0.2 s
of CPU per task. Here an importer re-reads its archive only when the
archive's ``(st_size, st_mtime_ns)`` differs from when that importer
last read it, so a changed archive is still seen by the next task.
Python 3.12 made the reload lazy itself (gh-103200); there the module
patches nothing.

A reused worker also runs a full ``gc.collect()`` after every task
(``pyspark/daemon.py``), which walks every tracked object: about 73k
once pandas and pyarrow are imported, some 20 ms a collect. So before
it forks any worker the daemon imports pandas and pyarrow (importing
``pyspark.daemon`` already brings in ``pyspark.worker`` and the Arrow
serializers), the stack every ``mapInPandas``/``pandas_udf`` worker
uses, and moves everything it holds to the permanent generation with
``gc.freeze()``: the per-task collect then walks only what the worker
allocated since it was forked, and still frees all of it. The frozen
objects are the daemon's import-time state, which lives as long as the
process anyway, and freezing before ``fork()`` also keeps the
collector from touching, and so copying, the pages shared with the
daemon.
"""

import gc
import os
import sys
import zipimport


def lazy_zip_reloads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    An archive whose ``stat`` fails takes the original path.
    """
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        # stat before the read: a write during the read shows next time
        key = (st.st_size, st.st_mtime_ns)
        if getattr(self, "_read_at", None) != key:
            reread(self)
            self._read_at = key

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    lazy_zip_reloads()
    import pandas  # noqa: F401  (frozen with the daemon)
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    gc.freeze()
    manager()
