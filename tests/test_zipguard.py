"""The zipimport guard: an unchanged zip is not re-read on every
importlib.invalidate_caches() sweep, a rewritten one is."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from tilemaker_spark import _zipguard


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zg_probe_mod.py", source)


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.modules.pop("zg_probe_mod", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_guard_is_installed_by_package_import():
    import tilemaker_spark  # noqa: F401
    assert zipimport.zipimporter.invalidate_caches is \
        _zipguard.invalidate_caches


def test_unchanged_zip_is_not_reread(probe_zip):
    path, reads = probe_zip
    import zg_probe_mod
    assert zg_probe_mod.VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_zip_is_reread_and_reimported(probe_zip):
    path, reads = probe_zip
    import zg_probe_mod
    assert zg_probe_mod.VALUE == 1
    importlib.invalidate_caches()
    _write_zip(path, "VALUE = 2  # rewritten in place\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    del sys.modules["zg_probe_mod"]
    import zg_probe_mod as fresh
    assert fresh.VALUE == 2


def test_second_install_does_not_stack(probe_zip):
    path, reads = probe_zip
    guard = zipimport.zipimporter.invalidate_caches
    original = _zipguard._original
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is guard
    assert _zipguard._original is original
    assert original is not guard
    import zg_probe_mod  # noqa: F401
    _write_zip(path, "VALUE = 3  # rewritten again\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_guard_reaches_python_workers(spark):
    """In the worker the guard is active, and importing the package from
    the zip the session shipped to the worker installs it too (workers
    started from the repo root import the package from the cwd first)."""
    def report(batches):
        import os
        import subprocess
        import sys
        import zipimport

        import pandas as pd

        from tilemaker_spark import _zipguard
        for _ in batches:
            pass
        shipped = next(p for p in sys.path if os.path.basename(p)
                       .startswith("tilemaker_spark_pyfiles_"))
        probe = (f"import sys, zipimport; sys.path.insert(0, {shipped!r}); "
                 "import tilemaker_spark; from tilemaker_spark import _zipguard; "
                 f"print(tilemaker_spark.__file__.startswith({shipped!r}) and "
                 "zipimport.zipimporter.invalidate_caches "
                 "is _zipguard.invalidate_caches)")
        out = subprocess.run([sys.executable, "-I", "-c", probe],
                             capture_output=True, text=True, check=True)
        yield pd.DataFrame({
            "in_worker": [zipimport.zipimporter.invalidate_caches
                          is _zipguard.invalidate_caches],
            "from_zip": [out.stdout.strip() == "True"]})

    rows = (spark.range(2, numPartitions=2)
            .mapInPandas(report, schema="in_worker boolean, from_zip boolean")
            .collect())
    assert len(rows) == 2
    assert all(r.in_worker and r.from_zip for r in rows)
