"""Import pyspark's zip modules cheaply in every Python worker.

Spark's Python workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, which holds no ``.pyc`` files.
CPython 3.11's ``zipimporter`` makes that costly twice over:

- It compiles every module twice. ``find_spec`` builds the spec through
  ``get_filename``, which compiles the module only to learn its path,
  and ``exec_module`` then compiles it again. A fresh process pays this
  for each module it imports: every streaming query starts a new
  ``python_streaming_source_runner``, whose import of pyspark made 200
  compiles for 96 modules, about 1 s.
- ``invalidate_caches`` re-reads the archive's central directory.
  PySpark's worker calls ``importlib.invalidate_caches()`` on every task
  and planner call (``pyspark.worker_util.setup_spark_files``), even in
  a reused worker, and a warm worker holds one zipimporter per package
  directory of ``pyspark.zip`` (1,328 entries).

``StampedZipImporter`` answers ``get_filename`` from the archive's table
of contents, keeps each compiled module as marshalled code in a per-user
cache directory keyed on the archive's ``(st_mtime_ns, st_size,
st_ino)`` stamp, and re-reads an archive's directory only when that
stamp changed. Importing this module swaps it in for ``zipimporter`` in
``sys.path_hooks`` and for every zipimporter already in
``sys.path_importer_cache``. ``worker_boot/sitecustomize.py`` imports it
at interpreter start in every worker that ``session.get_spark`` starts,
before pyspark; the package imports it first thing.

This module uses the standard library only: the boot hook loads it
before the package's parent directory is on ``sys.path``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import marshal
import os
import stat
import sys
import tempfile
import types
import zipimport

# the directory whose sitecustomize.py installs this importer at worker start
BOOT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_boot")

_read_stamps: dict[str, tuple] = {}  # archive -> stamp when last read


def _stamp(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def private_cache_dir(name: str) -> str | None:
    """Return ``<tempdir>/<name>_<uid>``, made with mode 0700 if
    missing, when it is a real directory that this user owns and no one
    else can write. Otherwise return None: the caller skips its disk
    cache.

    The tempdir is world-writable and cache names are
    predictable, so a shared directory would let another local user
    plant entries that change what the caller computes, or, for
    marshalled code, what it runs. The check runs on every call, so a
    directory loosened or swapped after it was made is bypassed too."""
    path = os.path.join(tempfile.gettempdir(), f"{name}_{os.getuid()}")
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path, follow_symlinks=False)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022:
        return path
    return None


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter that compiles a module once per archive stamp and
    re-reads only a changed archive."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
            # changed, gone, or never read by this class: read it again
            super().invalidate_caches()
            _read_stamps[self.archive] = stamp
        else:
            self._files = files  # the directory read at this stamp

    def _source_member(self, fullname: str) -> str | None:
        """The archive member that the stock ``get_code`` compiles for
        ``fullname``; None when a ``.pyc`` member or nothing matches, which
        the stock methods handle."""
        path = zipimport._get_module_path(self, fullname)
        for suffix, isbytecode, _ in zipimport._zip_searchorder:
            if path + suffix in self._files:
                return None if isbytecode else path + suffix
        return None

    def get_filename(self, fullname):
        member = self._source_member(fullname)
        if member is None:
            return super().get_filename(fullname)
        return self._files[member][0]  # the stock answer, without its compile

    def get_code(self, fullname):
        member = self._source_member(fullname)
        stamp = _stamp(self.archive)
        cdir = member and stamp and private_cache_dir("zip_code_cache")
        if not cdir:
            return super().get_code(fullname)
        # the member joins the module name in the key: with both an archive
        # and one of its directories on sys.path, one name can map to two
        # members
        key = (
            self.archive, stamp, importlib.util.MAGIC_NUMBER,
            sys.flags.optimize, fullname, member,
        )
        entry = os.path.join(cdir, hashlib.sha256(repr(key).encode()).hexdigest()[:32])
        try:
            with open(entry, "rb") as fh:
                code = marshal.loads(fh.read())
            if isinstance(code, types.CodeType):
                return code
        except (OSError, EOFError, ValueError, TypeError):
            pass  # missing or unreadable: compile
        code = super().get_code(fullname)
        try:
            tmp = f"{entry}.tmp{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(marshal.dumps(code))
            os.replace(tmp, entry)  # atomic: concurrent workers race safely
        except OSError:
            pass  # best effort: the module is compiled either way
        return code


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
