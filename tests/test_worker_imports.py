"""The stamped zip importer: ``importlib.invalidate_caches()`` leaves an
unchanged archive alone, re-reads a rewritten one, and leaves directory
entries to ``FileFinder``; ``get_filename`` compiles nothing; compiled
modules are kept per archive stamp in a private cache directory; and the
worker boot hook installs it at interpreter start. Spark-free: the
import tests run fresh interpreters with ``worker_boot`` on their path
and ``TMPDIR`` under the test's own directory."""

from __future__ import annotations

import importlib
import importlib.machinery
import json
import os
import subprocess
import sys
import types
import uuid
import zipfile
import zipimport

import pytest

from mysql_cdc_table_spark import worker_imports
from mysql_cdc_table_spark.worker_imports import BOOT_DIR, StampedZipImporter


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


def _pkg_zip(tmp_path, value=1):
    """A zip holding a fresh package with one module, ``mod.VALUE``."""
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, pkg, {"mod": f"VALUE = {value}\n"})
    return archive, pkg


# counts zip compiles while importing <pkg>.mod; argv[2] is run first
_PROBE = """
import json, sys, zipimport
exec(sys.argv[2])
compiles = []
real = zipimport._compile_source
def counting(path, source):
    compiles.append(path)
    return real(path, source)
zipimport._compile_source = counting
mod = __import__(sys.argv[1] + ".mod", fromlist=["VALUE"])
print(json.dumps({
    "compiles": len(compiles),
    "value": mod.VALUE,
    "loader": type(mod.__loader__).__qualname__,
}))
"""


def _import_fresh(tmp_path, archive, pkg, prelude="", path=(BOOT_DIR,)):
    """Import ``<pkg>.mod`` from ``archive`` in a new interpreter whose
    PYTHONPATH is the archive then ``path``; its JSON report."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join([str(archive), *map(str, path)]),
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, pkg, prelude],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.splitlines()[-1])


def _code_cache(tmp_path):
    return tmp_path / f"zip_code_cache_{os.getuid()}"


def test_get_filename_answers_without_compiling(tmp_path, monkeypatch):
    archive, pkg = _pkg_zip(tmp_path)
    compiles = []
    real = zipimport._compile_source

    def counting(path, source):
        compiles.append(path)
        return real(path, source)

    monkeypatch.setattr(zipimport, "_compile_source", counting)
    pkg_dir = f"{archive}/{pkg}"
    stock = {
        pkg: zipimport.zipimporter(str(archive)).get_filename(pkg),
        f"{pkg}.mod": zipimport.zipimporter(pkg_dir).get_filename(f"{pkg}.mod"),
    }
    assert stock == {pkg: f"{pkg_dir}/__init__.py", f"{pkg}.mod": f"{pkg_dir}/mod.py"}
    compiles.clear()
    assert {
        pkg: StampedZipImporter(str(archive)).get_filename(pkg),
        f"{pkg}.mod": StampedZipImporter(pkg_dir).get_filename(f"{pkg}.mod"),
    } == stock
    assert compiles == []
    with pytest.raises(zipimport.ZipImportError):
        StampedZipImporter(pkg_dir).get_filename(f"{pkg}.missing")


def test_second_interpreter_imports_without_compiling(tmp_path):
    archive, pkg = _pkg_zip(tmp_path)
    cold = _import_fresh(tmp_path, archive, pkg)
    # one compile per module: __init__ and mod
    assert cold == {"compiles": 2, "value": 1, "loader": "StampedZipImporter"}
    assert (_code_cache(tmp_path).stat().st_mode & 0o777) == 0o700
    assert len(os.listdir(_code_cache(tmp_path))) == 2
    warm = _import_fresh(tmp_path, archive, pkg)
    assert warm == {"compiles": 0, "value": 1, "loader": "StampedZipImporter"}


def test_rewritten_archive_recompiles(tmp_path):
    archive, pkg = _pkg_zip(tmp_path)
    assert _import_fresh(tmp_path, archive, pkg)["value"] == 1
    _write_zip(archive, pkg, {"mod": "VALUE = 22\n"})
    again = _import_fresh(tmp_path, archive, pkg)
    assert again == {"compiles": 2, "value": 22, "loader": "StampedZipImporter"}


@pytest.mark.parametrize("how", ["group_writable", "not_owned"])
def test_untrusted_cache_dir_is_bypassed(tmp_path, how):
    archive, pkg = _pkg_zip(tmp_path)
    prelude = ""
    if how == "group_writable":
        cache = _code_cache(tmp_path)
        cache.mkdir()
        cache.chmod(0o770)
    else:
        # the process reports another uid, so the directory it makes for
        # that uid is owned by someone else
        uid = os.getuid() + 4242
        prelude = f"import os; os.getuid = lambda: {uid}"
        cache = tmp_path / f"zip_code_cache_{uid}"
    for _ in range(2):
        got = _import_fresh(tmp_path, archive, pkg, prelude)
        assert got == {"compiles": 2, "value": 1, "loader": "StampedZipImporter"}
    assert os.listdir(cache) == []


def test_truncated_cache_entry_falls_back_to_compiling(tmp_path):
    archive, pkg = _pkg_zip(tmp_path, value=7)
    _import_fresh(tmp_path, archive, pkg)
    for entry in _code_cache(tmp_path).iterdir():
        entry.write_bytes(entry.read_bytes()[:10])
    got = _import_fresh(tmp_path, archive, pkg)
    assert got == {"compiles": 2, "value": 7, "loader": "StampedZipImporter"}
    # the compile rewrote the entries whole
    assert _import_fresh(tmp_path, archive, pkg)["compiles"] == 0


def test_boot_hook_runs_the_sitecustomize_it_shadows(tmp_path):
    archive, pkg = _pkg_zip(tmp_path)
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("import sys\nsys.other_site_ran = True\n")
    prelude = "assert sys.other_site_ran"
    got = _import_fresh(tmp_path, archive, pkg, prelude, path=(BOOT_DIR, other))
    assert got["loader"] == "StampedZipImporter"


def test_boot_hook_and_package_share_one_importer(tmp_path):
    """The hook installs the importer without importing the package; the
    package import then finds that same module and installs nothing."""
    code = """
import sys, zipimport
booted = sys.modules["mysql_cdc_table_spark.worker_imports"]
assert "mysql_cdc_table_spark" not in sys.modules
import mysql_cdc_table_spark
zip_hooks = [
    h for h in sys.path_hooks
    if isinstance(h, type) and issubclass(h, zipimport.zipimporter)
]
assert mysql_cdc_table_spark.worker_imports is booted
assert zip_hooks == [booted.StampedZipImporter]
"""
    repo = os.path.dirname(os.path.dirname(worker_imports.__file__))
    env = dict(
        os.environ, TMPDIR=str(tmp_path), PYTHONPATH=os.pathsep.join([BOOT_DIR, repo])
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_boot_dir_follows_the_users_worker_path():
    from mysql_cdc_table_spark.session import _add_worker_boot_dir

    sc = types.SimpleNamespace(environment={"PYTHONPATH": "/user/lib"})
    _add_worker_boot_dir(sc)
    _add_worker_boot_dir(sc)  # a second get_spark on the same context
    assert sc.environment["PYTHONPATH"] == os.pathsep.join(["/user/lib", BOOT_DIR])
