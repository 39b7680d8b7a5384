"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zips.

pyspark's worker calls it before every task; on CPython 3.11 that makes
every ``zipimporter`` re-read its archive's central directory (pyspark.zip:
~1.3k entries behind ~17 importers), ~0.3 s per Python task. An archive is
re-read only when its (inode, size, mtime) changed since the last read or
its directory left zipimport's cache. CPython 3.12+ re-reads lazily, so
this can go once workers run 3.12 or newer.
"""

import os
import zipimport

_original = None
_stamps = {}  # archive path -> (st_ino, st_size, st_mtime_ns) at last read


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    global _original
    if zipimport.zipimporter.invalidate_caches is not invalidate_caches:
        _original = zipimport.zipimporter.invalidate_caches
        zipimport.zipimporter.invalidate_caches = invalidate_caches
