"""Session plumbing: the Python worker's zip-invalidation guard, the
package archive shipped to the workers and the default session size."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import apache_hadoop_framework_for_peptide_identification_spark as pkg
from apache_hadoop_framework_for_peptide_identification_spark.session import (
    _package_zip,
    default_cpus,
)

STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    tmp = str(path) + ".new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def guard(monkeypatch):
    """Install the guard as a worker would, undone after the test; yields
    a counter of archive directory reads."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK_INVALIDATE)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is off on 3.13+")
def test_unchanged_archive_is_not_reread(guard, tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_one": "V = 1\n"})
    pkg._guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is not STOCK_INVALIDATE
    imp = zipimport.zipimporter(str(archive))
    guard.clear()
    imp.invalidate_caches()  # first guarded call: no stamp yet, reads
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert guard == [str(archive)]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is off on 3.13+")
def test_importer_present_at_install_is_taken_as_current(guard, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_two": "V = 2\n"})
    imp = zipimport.zipimporter(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), imp)
    pkg._guard_zip_invalidation()
    guard.clear()
    imp.invalidate_caches()
    assert guard == []


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is off on 3.13+")
def test_rewritten_archive_is_reread_and_new_module_imports(guard, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_old": "V = 'old'\n"})
    monkeypatch.syspath_prepend(str(archive))
    pkg._guard_zip_invalidation()
    assert importlib.import_module("zg_old").V == "old"
    importlib.invalidate_caches()
    _write_zip(archive, {"zg_old": "V = 'old'\n", "zg_new": "V = 'new'\n"})
    guard.clear()
    importlib.invalidate_caches()
    assert str(archive) in guard
    assert importlib.import_module("zg_new").V == "new"
    for name in ("zg_old", "zg_new"):
        monkeypatch.delitem(sys.modules, name)


def test_guard_is_off_on_python_313(guard, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pkg._guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is STOCK_INVALIDATE


def test_driver_keeps_stdlib_invalidate_caches():
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert STOCK_INVALIDATE.__module__ == "zipimport"
    assert STOCK_INVALIDATE.__qualname__ == "zipimporter.invalidate_caches"


def test_worker_invalidate_caches_is_cheap_from_second_task(spark):
    """Spark's worker calls importlib.invalidate_caches() before every
    task; with the guard, a reused worker no longer re-reads pyspark.zip
    and the spark-core jar for it."""

    def probe(batches):  # nested: pickled by value, workers lack this module
        import importlib
        import os
        import time

        # importing the package installs the guard in this worker
        import apache_hadoop_framework_for_peptide_identification_spark  # noqa: F401

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "ms": [ms]})

    df = spark.range(2, numPartitions=2)
    tasks = []
    for _ in range(3):
        tasks += df.mapInArrow(probe, "pid long, ms double").collect()
    by_pid = {}
    for row in tasks:
        by_pid.setdefault(row.pid, []).append(row.ms)
    later = [ms for runs in by_pid.values() for ms in runs[1:]]
    assert later, f"no worker ran two tasks: {tasks}"
    assert max(later) < 20, by_pid


def test_package_zip_keyed_by_source_hash(tmp_path):
    src = tmp_path / "src" / "zgpkg"
    (src / "sub").mkdir(parents=True)
    (src / "__init__.py").write_text("V = 1\n")
    (src / "sub" / "__init__.py").write_text("")
    out = tmp_path / "out"
    out.mkdir()
    first = _package_zip(src, str(out))
    assert _package_zip(src, str(out)) == first
    assert os.listdir(out) == [os.path.basename(first)]
    (src / "__init__.py").write_text("V = 2\n")
    changed = _package_zip(src, str(out))
    assert changed != first
    with zipfile.ZipFile(changed) as z:
        assert z.read("zgpkg/__init__.py") == b"V = 2\n"
        assert sorted(z.namelist()) == ["zgpkg/__init__.py", "zgpkg/sub/__init__.py"]
    assert sorted(os.listdir(out)) == sorted(map(os.path.basename, (first, changed)))


def test_default_cpus_follows_env_then_affinity(monkeypatch):
    """SPARK_GRAFT_CPUS wins; unset or empty, the session gets one task
    slot per CPU the process may run on, not a fixed 32."""
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_cpus() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == 3
