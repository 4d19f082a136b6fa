"""Per-task import cost of the Spark Python workers: PySpark calls
importlib.invalidate_caches() before every task, and on CPython < 3.12
each zipimporter re-parses its archive's central directory on that call.
The package guards the re-read by the archive's (mtime, size, inode)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import geospatial_spark


def test_zip_directory_reread_only_when_archive_changes(tmp_path,
                                                        monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipguard_m1.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        import zipguard_m1

        assert zipguard_m1.X == 1
        reads = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads[0] += 1
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        counts = []
        for _ in range(3):
            importlib.invalidate_caches()
            counts.append(reads[0])
        # the first call may read (an importer's first call is
        # unguarded); the two after it read nothing
        assert counts[2] == counts[0]

        # rewritten in place: new size and mtime, same inode
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zipguard_m1.py", "X = 1\n")
            z.writestr("zipguard_m2.py", "Y = 2\n")
        before = reads[0]
        importlib.invalidate_caches()
        assert reads[0] - before == 1
        import zipguard_m2

        assert zipguard_m2.Y == 2
    finally:
        for name in ("zipguard_m1", "zipguard_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_zip_guard_installed_exactly_below_312(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    assert (current is not original) == (sys.version_info < (3, 12))
    for version, installed in (((3, 11, 7), True), ((3, 12, 0), False),
                               ((3, 13, 1), False)):
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            original)
        monkeypatch.setattr(sys, "version_info", version)
        geospatial_spark._guard_zip_rereads()
        wrapped = zipimport.zipimporter.invalidate_caches
        assert (wrapped is not original) == installed, version
        # installing twice never wraps the wrap
        geospatial_spark._guard_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is wrapped


def test_spark_task_rereads_no_zip_directory(spark):
    """Inside a worker that has imported the package, a task's second
    invalidate_caches() reads no zip directory."""

    def probe(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import importlib as il
        import sys as _sys
        import zipimport as zi

        import geospatial_spark  # noqa: F401  (installs the guard)

        reads = [0]
        read_directory = zi._read_directory

        def counting(path):
            reads[0] += 1
            return read_directory(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            first = reads[0]
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        zips = sum(isinstance(f, zi.zipimporter)
                   for f in _sys.path_importer_cache.values())
        return pd.DataFrame({"zips": [zips], "second": [reads[0] - first]})

    rows = (spark.range(4).groupBy("id")
            .applyInPandas(probe, "zips long, second long").collect())
    assert len(rows) == 4
    for r in rows:
        assert r["zips"] > 0
        assert r["second"] == 0
