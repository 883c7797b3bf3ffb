"""A zip on the import path is re-read only when it changed on disk, and a
Spark Python worker that imports the package runs with that invalidation."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from my_crawler_spark import worker_zipimport


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wd_pkg/__init__.py", "")
        for name in modules:
            z.writestr(f"wd_pkg/{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Two importers share the archive (its root and ``wd_pkg/``): a rewrite
    is read once, and the sub-package importer sees the new module too."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_zipimport.invalidate_caches)
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    try:
        assert importlib.import_module("wd_pkg.a").NAME == "a"
        importlib.invalidate_caches()  # the first stat of the archive reads it
        n = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == n
        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module("wd_pkg.b").NAME == "b"
    finally:
        for name in ("wd_pkg", "wd_pkg.a", "wd_pkg.b"):
            sys.modules.pop(name, None)
        for path in (archive, f"{archive}/wd_pkg"):
            sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_run_the_stat_checked_invalidation(spark):
    def report(batches):
        import my_crawler_spark  # noqa: F401  (as a package UDF's unpickling does)

        for _ in batches:
            yield pd.DataFrame(
                {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    got = spark.range(1, numPartitions=1).mapInPandas(report, "module string").collect()
    assert [r.module for r in got] == ["my_crawler_spark.worker_zipimport"]
