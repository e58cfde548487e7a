"""rtfproc_spark — PySpark-native streaming CEP engine with the query and
data-processing capabilities of torstenvl/rtfproc, re-expressed Spark-first.

Layers:
- ``kernel``     pure-Python RTF state machine (no Spark imports)
- ``functions``  vectorized pandas/Arrow UDFs + native column functions
- ``operators``  windows, joins, skew handling, dedup, similarity
- ``sources``    transcripts synthesizer + readers, idempotent sink
- ``streaming``  structured-streaming pipelines, metrics, checkpointing

Inside a PySpark daemon worker on Python < 3.13, importing the package makes
``importlib.invalidate_caches()`` re-read a zip archive on ``sys.path`` only
when its inode, size or mtime changed, not on every worker run.
"""

import sys

__version__ = "0.1.0"


def _install_zip_cache_guard() -> None:
    """Stat-check ``zipimport.zipimporter.invalidate_caches`` in a worker.

    Every PySpark worker run calls ``importlib.invalidate_caches()``; before
    3.13 that makes each of the worker's zipimporters re-read the whole
    directory of ``pyspark.zip``. The guard re-reads an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` differs from the last read or
    ``os.stat`` fails, so a changed archive is still re-read. Drivers and
    non-daemon workers (which run ``pyspark.worker`` as ``__main__``) are
    left alone.
    """
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_checked", False):
        return
    read_at = {}  # archive path -> its stat signature when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = sig

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_cache_guard()
