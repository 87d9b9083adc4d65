"""PySpark's worker daemon, with zip archives on the worker path read
once per change instead of once per task.

The PySpark worker calls ``importlib.invalidate_caches()`` at the start
of every task. On CPython 3.11, ``zipimporter.invalidate_caches``
re-reads the whole central directory of its archive, and a worker's
path holds pyspark.zip, the py4j zip and the spark-core jar (5,359
entries), with one importer per subpackage imported from them: every
Python task spent ~200 ms re-reading archives that had not changed.
Here an importer re-reads only when its archive's size or mtime
differs from its last read. Python 3.12 made that re-read lazy, and
the patch changes nothing there that matters.

Run by Spark as ``python -m zipcache_daemon`` (``spark.python.daemon.module``
with this directory on ``spark.executorEnv.PYTHONPATH``; ``session.get_spark``
sets both for local masters). The directory holds this module alone, so
the daemon imports nothing of the package.
"""

import os
import runpy
import zipimport

# zipimporter.invalidate_caches exists from CPython 3.10; before that
# the worker has no archive re-read to spare and runs as it is
_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


if _reread is not None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
