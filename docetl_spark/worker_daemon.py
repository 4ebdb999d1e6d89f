"""The Python worker daemon of the engine's sessions: ``pyspark.daemon``
with zip importers that re-read an archive only when it has changed.

Every Python task starts with ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every zip importer the worker holds,
and each call parses its archive's whole central directory again, in pure
Python. A worker holds one importer per package directory it imported from
the archives on its ``sys.path`` (pyspark.zip, the py4j zip, the
spark-core jar): about 0.3 s of every task on 4 cores, before the task's
first line runs.

Here an importer re-reads its archive only when the archive's
``(st_size, st_mtime_ns)`` differs from the one taken before its last
read, or the stat fails; otherwise it takes the directory already parsed
into ``zipimport._zip_directory_cache``. A zip rewritten in place (a
changed file given to ``addPyFile`` again) is still re-read.

``get_spark`` names this module in ``spark.python.daemon.module``. Workers
fork from the daemon, so every Python task of the session, a worker's
first included, runs with the stamped importers. (A custom
``spark.python.worker.module`` would not do: ``pyspark.daemon`` loads one
only when its name starts with ``pyspark``.)
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches  # parses the archive again
_stamps: dict = {}  # archive path -> (st_size, st_mtime_ns) before its last read


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # one stamped read per archive, before any fork
    daemon.manager()
