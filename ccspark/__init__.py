"""ccspark — a PySpark-native crawl-frontier and web-corpus engine.

Importing the package installs one process-wide fix,
:func:`_guard_zip_invalidate`.  Every ccspark UDF imports ccspark in its
Spark Python worker, so the fix holds in each worker from its first
ccspark task onwards, and in the driver.
"""

import functools
import os
import sys
import zipimport


def _guard_zip_invalidate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed archive.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``).  Before CPython 3.12
    (gh-103200) that makes every zip importer re-parse its archive's
    central directory at once.  A Spark 4.1 worker holds 16 of them, on
    pyspark.zip, the py4j zip and the spark-core jar: ~27k records, about
    0.2 s of CPU per task.  The wrapper re-reads when the archive's (mtime_ns, size)
    differs from this importer's last read, so a ``--py-files`` zip
    rewritten in place is still picked up, and keeps the stock re-read
    when ``stat`` fails.  The first call per importer re-reads once."""
    stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 12) or stock is None or getattr(stock, "_ccspark_guard", False):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        sig = (st.st_mtime_ns, st.st_size)  # taken before the read: a racing rewrite re-reads next time
        if getattr(self, "_ccspark_zip_sig", None) != sig:
            stock(self)
            self._ccspark_zip_sig = sig

    invalidate_caches._ccspark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidate()
