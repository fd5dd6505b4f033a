"""Keep ``importlib.invalidate_caches()`` cheap for modules imported from zips.

PySpark's worker calls ``importlib.invalidate_caches()`` on every task and
planner call (``pyspark.worker_util.setup_spark_files``), even in a reused
worker. CPython 3.11's ``zipimporter.invalidate_caches`` re-reads the
archive's central directory each time, and a warm worker holds one
zipimporter per package directory of ``pyspark.zip`` (1,328 entries), so
every call re-read that directory dozens of times.

``StampedZipImporter`` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` stamp changed since the last read, and
importers of the same archive share that one read. Importing this module
swaps it in for ``zipimporter`` in ``sys.path_hooks`` and for every
zipimporter already in ``sys.path_importer_cache``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_stamps: dict[str, tuple] = {}  # archive -> stamp when last read


def _stamp(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads only a changed archive."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
            # changed, gone, or never read by this class: read it again
            super().invalidate_caches()
            _read_stamps[self.archive] = stamp
        else:
            self._files = files  # the directory read at this stamp


def _install() -> None:
    hooks = sys.path_hooks
    if zipimport.zipimporter not in hooks:
        return  # already installed, or zip imports are off
    hooks[hooks.index(zipimport.zipimporter)] = StampedZipImporter
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[path] = StampedZipImporter(path)
            except zipimport.ZipImportError:
                pass  # archive gone: keep the old finder


_install()
