"""Skip zip-directory re-reads of unchanged archives in Python workers.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read the
whole central directory of its archive. Spark 4.1 puts ``pyspark.zip``
(1,328 entries), the py4j zip and the spark-core jar (5,359 entries) on
the worker ``PYTHONPATH``; a worker holds 16 importers over them, and
each task paid 120-270 ms of CPU (measured on a 4-core host) before its
UDF started, whatever the data size.

Importing ``mtslake`` installs the guard; a worker imports it whenever
it unpickles any mtslake kernel. Each importer then pays one more read,
its first through the guard, and after that a task re-reads only the
archives that changed.
"""

from __future__ import annotations

import functools
import os
import weakref
import zipimport


def guard_zip_rereads() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process: an
    importer re-reads its archive only when the archive's
    ``(st_mtime_ns, st_size)`` differ from the pair taken at that
    importer's last read through the wrapper. An importer with no read
    on record, or whose archive cannot be stat'ed, always re-reads, and
    a rewritten or added archive (``--py-files``, ``addPyFile``) is
    re-read as before."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "guards_zip_rereads", False):
        return
    read_at = weakref.WeakKeyDictionary()

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and read_at.get(self) == stamp:
            return
        # stat before the read: a rewrite racing the read leaves an
        # older stamp on record, so the next call re-reads again
        reread(self)
        read_at[self] = stamp

    invalidate_caches.guards_zip_rereads = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
