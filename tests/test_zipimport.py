"""Stat-keyed zipimporter cache invalidation (geo_polygonize_spark/_zipimport.py):
an unchanged archive is not re-read, a changed one is, a vanished one is
dropped; and the patch is live inside the Python workers."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import geo_polygonize_spark  # noqa: F401  (installs the patch)

PATCHED = sys.version_info < (3, 12)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {
        "gps_zt_m1.py": "X = 1\n",
        "gps_zt_pkg/__init__.py": "",
        "gps_zt_pkg/sub.py": "Y = 2\n",
    })
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    mods = ("gps_zt_m1", "gps_zt_m2", "gps_zt_pkg", "gps_zt_pkg.sub")
    try:
        import gps_zt_m1
        import gps_zt_pkg.sub

        assert (gps_zt_m1.X, gps_zt_pkg.sub.Y) == (1, 2)
        importers = [
            f for p, f in sys.path_importer_cache.items()
            if p.startswith(archive) and isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) == 2  # the archive root and gps_zt_pkg/
        reads.clear()
        importlib.invalidate_caches()  # records the archive's stat
        if PATCHED:
            assert zipimport.zipimporter.invalidate_caches.__module__ == (
                "geo_polygonize_spark._zipimport"
            )
            # both importers shared one read, and the next invalidation reads nothing
            assert len(reads) == 1
            reads.clear()
            importlib.invalidate_caches()
            assert reads == []

        # a rewritten archive (new member, so a new size) is re-read
        _write_zip(archive, {"gps_zt_m1.py": "X = 1\n", "gps_zt_m2.py": "Z = 3\n"})
        importlib.invalidate_caches()
        import gps_zt_m2

        assert gps_zt_m2.Z == 3

        # a vanished archive neither raises nor keeps its stale directory
        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        with pytest.raises(ImportError):
            importlib.import_module("gps_zt_m3")
    finally:
        for mod in mods:
            sys.modules.pop(mod, None)
        for p in list(sys.path_importer_cache):
            if p.startswith(archive):
                del sys.path_importer_cache[p]


def test_patch_is_live_in_python_workers(spark):
    """A UDF that calls a package kernel runs with the patch installed
    in its worker: it comes with the package import, not with the
    driver."""

    def report(batches):
        import zipimport

        import pandas as pd

        from geo_polygonize_spark.kernels.rings import signed_area

        for b in batches:
            area = signed_area(b["x"].to_numpy(), b["y"].to_numpy())
            yield pd.DataFrame({
                "area": [float(area)],
                "mod": [zipimport.zipimporter.invalidate_caches.__module__],
            })

    pts = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    df = spark.createDataFrame(pts, "x double, y double").coalesce(1)
    rows = df.mapInPandas(report, "area double, mod string").collect()
    assert [r["area"] for r in rows] == [1.0]
    if PATCHED:
        assert {r["mod"] for r in rows} == {"geo_polygonize_spark._zipimport"}
