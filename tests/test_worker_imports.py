"""The stamped zip importer: ``importlib.invalidate_caches()`` leaves an
unchanged archive alone, re-reads a rewritten one, and leaves directory
entries to ``FileFinder``. Spark-free."""

from __future__ import annotations

import importlib
import importlib.machinery
import sys
import uuid
import zipfile
import zipimport

import pytest

from mysql_cdc_table_spark import worker_imports
from mysql_cdc_table_spark.worker_imports import StampedZipImporter


@pytest.fixture
def read_counter(monkeypatch):
    """Count ``zipimport._read_directory`` calls, per archive path."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def clean_import_state(tmp_path):
    """Drop the finders and modules a test made under ``tmp_path``, so no
    later test sees them."""
    yield
    for path in [p for p in sys.path_importer_cache if p.startswith(str(tmp_path))]:
        del sys.path_importer_cache[path]
    for name, mod in list(sys.modules.items()):
        if str(getattr(mod, "__file__", None)).startswith(str(tmp_path)):
            del sys.modules[name]


def _write_zip(archive, pkg, modules):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"{pkg}/{name}.py", body)


def test_unchanged_archive_is_not_reread_changed_one_is(
    tmp_path, monkeypatch, read_counter, clean_import_state
):
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, pkg, {"first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(f"{pkg}.first").VALUE == 1
    for path in (str(archive), f"{archive}/{pkg}"):
        assert type(sys.path_importer_cache[path]) is StampedZipImporter

    importlib.invalidate_caches()  # stamps the directory read at import
    read_counter.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert read_counter == []

    _write_zip(archive, pkg, {"first": "VALUE = 1\n", "second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    # both importers of the archive see the change; one read serves them
    assert read_counter == [str(archive)]
    assert importlib.import_module(f"{pkg}.second").VALUE == 2

    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == []


def test_directory_entry_falls_through_to_file_finder(
    tmp_path, monkeypatch, clean_import_state
):
    name = f"dirmod_{uuid.uuid4().hex[:8]}"
    (tmp_path / f"{name}.py").write_text("VALUE = 3\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    assert importlib.import_module(name).VALUE == 3
    finder = sys.path_importer_cache[str(tmp_path)]
    assert type(finder) is importlib.machinery.FileFinder


def test_second_import_installs_hook_once(monkeypatch):
    name = worker_imports.__name__
    monkeypatch.delitem(sys.modules, name)
    monkeypatch.setattr(sys.modules["mysql_cdc_table_spark"], "worker_imports", worker_imports)
    again = importlib.import_module(name)
    assert again is not worker_imports  # the module really ran twice
    zip_hooks = [
        h for h in sys.path_hooks
        if isinstance(h, type) and issubclass(h, zipimport.zipimporter)
    ]
    assert zip_hooks == [StampedZipImporter]
    assert not any(
        type(f) is zipimport.zipimporter for f in sys.path_importer_cache.values()
    )
