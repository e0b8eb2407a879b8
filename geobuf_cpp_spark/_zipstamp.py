"""Stamped ``zipimporter.invalidate_caches`` for reused PySpark workers.

PySpark calls ``importlib.invalidate_caches()`` before every task, and on
Python < 3.13 each zipimporter then re-reads its archive's whole directory
(pyspark.zip alone has over a thousand entries and a dozen importers).
Here an archive is re-read only when its ``(st_size, st_mtime_ns)`` differs
from the stamp taken before its last re-read; a changed, replaced or
deleted archive goes through the stdlib method as before.
"""

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive -> its stamp when its directory was last read


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _stdlib_invalidate(self)
        # stamped before the read: a write during it shows as a change next time
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Replace the stdlib method; a second call changes nothing."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
