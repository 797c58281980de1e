"""The Python-worker daemon module (big_data_fknn_spark/worker.py):
the stat guard on ``zipimporter.invalidate_caches`` in plain Python,
and that the engine's sessions really start workers through it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from big_data_fknn_spark import worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; monkeypatch restores zipimport."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker._stdlib_invalidate)
    worker.install()
    return worker._invalidate_caches


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``<name>_a``; yields
    (archive, importer, name, write) where ``write(*mods)`` rewrites
    the archive with those modules."""
    name = f"zmod_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "mods.zip")

    def write(*mods):
        with zipfile.ZipFile(archive, "w") as zf:
            for m in mods:
                zf.writestr(f"{name}_{m}.py", f"VALUE = {m!r}\n")

    write("a")
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module(f"{name}_a").VALUE == "a"
    yield archive, sys.path_importer_cache[archive], name, write
    for m in list(sys.modules):
        if m.startswith(name):
            del sys.modules[m]
    zipimport._zip_directory_cache.pop(archive, None)
    sys.path_importer_cache.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is installed below 3.13 only")
def test_unchanged_archive_is_not_reread(guarded, zip_module, monkeypatch):
    archive, importer, _, _ = zip_module
    assert zipimport.zipimporter.invalidate_caches is guarded
    importer.invalidate_caches()  # first call reads and takes the stamp
    reads = _count_reads(monkeypatch)
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert importer._files is zipimport._zip_directory_cache[archive]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is installed below 3.13 only")
def test_rewritten_archive_is_reread_and_new_module_imports(guarded, zip_module, monkeypatch):
    archive, importer, name, write = zip_module
    importer.invalidate_caches()
    reads = _count_reads(monkeypatch)
    write("a", "b")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(f"{name}_b").VALUE == "b"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is installed below 3.13 only")
def test_deleted_archive_falls_through_to_stdlib(guarded, zip_module):
    archive, importer, _, _ = zip_module
    importer.invalidate_caches()
    os.remove(archive)
    importer.invalidate_caches()  # stdlib: drop the cache entry, no raise
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_313_and_later_leave_zipimport_untouched(monkeypatch):
    original = worker._stdlib_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_spark_workers_run_the_guarded_invalidate(spark):
    def probe(batches):
        import zipimport as zi

        import pandas as pd

        fn = zi.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"name": [fn.__qualname__], "file": [fn.__code__.co_filename]})

    rows = spark.range(1).mapInPandas(probe, "name string, file string").collect()
    want = "_invalidate_caches" if sys.version_info < (3, 13) else "zipimporter.invalidate_caches"
    assert rows[0]["name"] == want
    if sys.version_info < (3, 13):
        assert os.path.realpath(rows[0]["file"]) == os.path.realpath(worker.__file__)


def test_workers_import_the_daemon_module_from_any_cwd(tmp_path):
    # a driver script that puts the repo on sys.path itself, started
    # in another directory with no PYTHONPATH: the daemon module must
    # still resolve in the Python workers
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from big_data_fknn_spark.session import get_spark

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        spark = get_spark(app_name="cwd_probe", cpus=1)
        got = sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect())
        print("GOT", got)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "GOT [0, 2, 4]" in out.stdout, out.stderr[-3000:]
