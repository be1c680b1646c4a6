"""Python-worker set-up: stop zip archives being re-read on every task.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
before every task, and on Python 3.11 that makes each ``zipimporter``
re-read its whole archive directory (``pyspark.zip`` alone has ~1,300
entries and sits behind a dozen importers): 110-180 ms per task. The
replacement re-reads an archive only when its ``(inode, size, mtime)``
differs from the last read, so a replaced archive is still picked up.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive re-read it
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; a second call is a no-op.
    Archives already read are stamped as they are now."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
