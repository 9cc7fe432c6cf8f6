"""Python-worker start-up cost: skip re-reading zip archives that have not changed.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``). Before Python 3.13 that makes
every ``zipimporter`` on ``sys.path`` re-read its archive's whole
directory: ``pyspark.zip`` and its subpackages, the py4j zip and the
spark-core jar, about 0.2 s per task on 4 cores. :func:`install` wraps
``zipimporter.invalidate_caches`` so an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` differs from the stat it recorded
at its own last re-read, the rule importlib's ``FileFinder`` applies to
directories. A changed or missing archive is handled exactly as before.
Python 3.13 reads the directory lazily, so it is left untouched.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_MARKER = "_skips_unchanged_archive"


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or original is None or hasattr(original, _MARKER):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # Per instance: each importer of one archive holds its own _files.
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        original(self)
        self._read_stamp = stamp

    setattr(invalidate_caches, _MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
