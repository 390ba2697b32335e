"""Python worker tasks re-read a zip archive's directory only when the
archive has changed (georaster_spark.zip_stamps)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from georaster_spark import zip_stamps


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "shipped.zip"
    _write_zip(archive, {"zs_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # the stock method comes back after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    try:
        _check_rereads(archive, monkeypatch)
    finally:
        for name in ("zs_mod_a", "zs_mod_b"):
            sys.modules.pop(name, None)


def _check_rereads(archive, monkeypatch) -> None:
    assert importlib.import_module("zs_mod_a").VALUE == 1

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    zip_stamps.install()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    # a rewritten archive (new size and mtime) is re-read, and its new module imports
    _write_zip(archive, {"zs_mod_a": "VALUE = 2\n", "zs_mod_b": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("zs_mod_b").VALUE == 3
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1


def test_second_worker_task_rereads_no_archive(spark):
    """In a Python worker's later tasks, the per-task
    importlib.invalidate_caches() keeps every zip directory it holds."""

    def probe(_):
        import importlib
        import sys
        import time
        import zipimport

        import georaster_spark  # noqa: F401  (first import in a task installs the stamps)

        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        before = [f._files for f in zips]
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        yield len(zips), all(f._files is d for f, d in zip(zips, before)), dt

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(probe).collect()
    got = rdd.mapPartitions(probe).collect()
    if not any(n for n, _, _ in got):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert all(kept for _, kept, _ in got), got
