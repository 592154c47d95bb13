"""Keep zipimport's directory caches across Python task starts.

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start (``pyspark/worker_util.py:setup_spark_files``). On Python 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory. A worker importing pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds 16 such importers, so each
task re-read the same unchanged 1,328-entry directory 16 times.

An importer's directory depends only on the archive's bytes. The
replacement installed here stats the archive and re-reads only when
``(st_mtime_ns, st_size, st_ino)`` differs from the key recorded at that
importer's last re-read, or when the stat fails.
"""

import functools
import os
import zipimport

_MARK = "_tika_spark_skips_unchanged"


def install():
    """Wrap ``zipimporter.invalidate_caches`` once per interpreter."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, _MARK, False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_archive_key", None):
            return
        original(self)
        self._archive_key = key

    setattr(invalidate_caches, _MARK, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
