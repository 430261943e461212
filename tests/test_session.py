"""Session wiring: the Python worker daemon's zip-archive guard, the
daemon reaching the workers of a driver started anywhere, and the
package archive a foreign session ships to its workers."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import tempfile
import textwrap
import zipfile
import zipimport

import pytest

from big_ann_spark import pyworker
from big_ann_spark.session import prepare_foreign_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_reads(monkeypatch):
    """Archives read by ``zipimport`` during the test; monkeypatch puts
    the original ``invalidate_caches`` back after a test installs the
    guard."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is only installed before 3.13")
def test_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch, zip_reads):
    arc = str(tmp_path / "pkg.zip")
    _write_archive(arc, {"graft_zip_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    for name in ("graft_zip_mod_a", "graft_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("graft_zip_mod_a").X == 1
    pyworker.install()
    importer = sys.path_importer_cache[arc]
    zip_reads.clear()  # the importer read the archive when it was made
    importlib.invalidate_caches()  # first call: no stamp yet, reads once
    assert zip_reads.count(arc) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads.count(arc) == 1, "an unchanged archive was read again"

    _write_archive(arc, {"graft_zip_mod_a": "X = 1\n", "graft_zip_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_reads.count(arc) == 2, "a rewritten archive was not read again"
    assert sys.path_importer_cache[arc] is importer
    assert importlib.import_module("graft_zip_mod_b").Y == 2


def test_guard_not_installed_from_python_3_13(monkeypatch, zip_reads):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_get_spark_workers_run_the_guard_from_any_directory(tmp_path):
    """A driver started outside the repository, PYTHONPATH unset: its
    Python workers import the daemon module and run the guard."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from big_ann_spark.session import get_spark

        def probe(batches):
            import zipimport
            import pyarrow as pa
            for _ in batches:
                pass
            fn = zipimport.zipimporter.invalidate_caches
            where = fn.__code__.co_filename + ":" + fn.__qualname__
            yield pa.RecordBatch.from_pydict({{"fn": [where]}})

        spark = get_spark("pyworker-probe", shuffle_partitions=1)
        print("WORKER", spark.range(1).mapInArrow(probe, "fn string").collect()[0]["fn"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    guarded = f"WORKER {pyworker.__file__}:install.<locals>.invalidate_caches\n" in out.stdout
    assert guarded == (sys.version_info < (3, 13)), out.stdout


class _Conf(dict):
    def set(self, key, value):
        self[key] = value


class _Context:
    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _Session:
    def __init__(self):
        self.conf = _Conf()
        self.sparkContext = _Context()


def test_foreign_session_gets_its_own_package_archive(tmp_path, monkeypatch):
    import pyspark.errors.utils as eu

    monkeypatch.setattr(eu, "_enable_debugging_cache", eu._enable_debugging_cache)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sessions = [_Session(), _Session()]
    for s in sessions:
        prepare_foreign_session(s)
    paths = [p for s in sessions for p in s.sparkContext.py_files]
    assert len(paths) == 2 and paths[0] != paths[1]
    for p in paths:
        assert os.path.dirname(p) == str(tmp_path) and p.endswith(".zip")
        with zipfile.ZipFile(p) as z:
            names = set(z.namelist())
        assert {"big_ann_spark/__init__.py", "big_ann_spark/pyworker.py"} <= names
