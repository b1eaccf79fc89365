"""Stop zip importers from re-reading an unchanged archive.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (pyspark/worker_util.py:144).  On CPython 3.10-3.12 each
``zipimporter`` then re-reads its archive's whole directory at once
(lib/python3.11/zipimport.py:329-336), and a worker holds about 16
importers over the 1328-entry ``pyspark.zip``: 0.13-0.30 s per task and
worker on a 4-core host.  CPython 3.13 defers the re-read itself
(lib/python3.13/zipimport.py:276-278), so the guard is installed only
below it.  An importer still re-reads whenever its archive's
``(st_mtime_ns, st_size)`` differs from what it last read, so a new or
rewritten archive imports as before.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (the package calls this once,
    on import)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
