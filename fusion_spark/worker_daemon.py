"""PySpark worker daemon whose zip importers re-read an archive only when it changed.

Every Python-worker task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython >= 3.10 that makes
each ``zipimporter`` re-read its archive's whole central directory: a worker's
path holds importers over the Spark core jar (~5.4k entries) and
``pyspark.zip`` (~1.3k entries), ~120-160 ms per task before the UDF starts.

At import this module wraps ``zipimport.zipimporter.invalidate_caches`` so an
importer re-reads only when the archive's ``(st_mtime_ns, st_size)`` differs
from the last time that importer read it (the original re-read runs when the
stat fails, and nothing is patched if the attribute is missing). A rewritten
archive is still re-read; directory finders (``addPyFile``) are untouched.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module. Run
as ``python -m fusion_spark.worker_daemon pyspark.worker`` it stamps the
importers it already holds, then runs ``pyspark.daemon.manager()``; the
workers it forks inherit the patched class and the stamps.
"""

import importlib
import os
import zipimport

_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_read_stamp", None)
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_read_stamp") != stamp:
        _reread(self)
        self._read_stamp = stamp


if _reread is not None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
