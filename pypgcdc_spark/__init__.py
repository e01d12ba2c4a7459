"""pypgcdc_spark — a PySpark-native CDC analytics engine.

Importing the package also makes ``importlib.invalidate_caches()`` cheap
in the Python worker.  Spark's worker calls it before every task
(``pyspark.worker_util.setup_spark_files``).  Workers import pyspark from
``pyspark.zip``, which gets one zipimporter per package directory, and on
Python < 3.13 ``zipimporter.invalidate_caches`` re-reads the archive's
central directory at once, for each of them: sixteen reads of a
1 328-entry directory, 80–360 ms per task.  The replacement below re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` moved since
the last read; otherwise it reuses the cached directory.  Python 3.13
already defers the re-read to the next lookup, so the replacement can go
once the workers run Python ≥ 3.13.
"""

import os
import sys
import zipimport


def _install_zipimport_stat_guard() -> None:
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_guarded", False):
        return
    stamps = {}  # archive path -> stat stamp taken before its last re-read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zipimport_stat_guard()
