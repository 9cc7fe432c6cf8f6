"""pyworker: an unchanged zip archive is not re-read; a changed one is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from textcleaning_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 reads zip directories lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_skipped_changed_archive_reread(tmp_path, monkeypatch):
    pyworker.install()
    pyworker.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert hasattr(wrapped, "_skips_unchanged_archive")
    assert not hasattr(wrapped.__wrapped__, "_skips_unchanged_archive")
    archive = str(tmp_path / "pyworker_probe.zip")
    _write_zip(archive, ["pyworker_mod_a"])
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pyworker_mod_a").NAME == "pyworker_mod_a"
        importlib.invalidate_caches()  # first re-read records the stat
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, ["pyworker_mod_a", "pyworker_mod_b"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("pyworker_mod_b").NAME == "pyworker_mod_b"
    finally:
        for name in ("pyworker_mod_a", "pyworker_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_skips_unchanged_archives_after_first_job(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        import textcleaning_spark  # noqa: F401  (installs the wrapper)

        wrapped = zipimport.zipimporter.invalidate_caches
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield hasattr(wrapped, "_skips_unchanged_archive"), len(reads), n_zip

    # More tasks than cores, so every idle worker runs the job once.
    n = 32
    first = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    second = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    assert len(first) == len(second) == n
    assert all(installed for installed, _, _ in first + second)
    assert all(n_zip > 0 for _, _, n_zip in second)
    assert [reads for _, reads, _ in second] == [0] * n
