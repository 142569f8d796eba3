"""The per-worker import cache (mapnik_vector_tile_spark.importcache):
``importlib.invalidate_caches()`` re-reads a zip archive on sys.path only
when the archive changed, in this process and in a reused pyspark
worker."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import mapnik_vector_tile_spark
from mapnik_vector_tile_spark import importcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimporter caches lazily; the wrapper is not installed",
)


def _write(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Repeated invalidate_caches on an unchanged archive reads it 0
    times; after the archive is rewritten with a new module, one call
    reads it once and the new module imports."""
    path = str(tmp_path / "mods.zip")
    _write(path, {"mvt_zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("mvt_zc_first").X == 1
        importer = sys.path_importer_cache[path]
        assert isinstance(importer, zipimport.zipimporter)
        importlib.invalidate_caches()  # the first call stamps the importer
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == []
        _write(path, {"mvt_zc_first": "X = 1\n", "mvt_zc_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("mvt_zc_second").Y == 2
        importlib.invalidate_caches()
        assert len(reads) == 1
        # a replaced archive (new inode) is re-read as well
        os.replace(path, path + ".old")
        _write(path, {"mvt_zc_third": "Z = 3\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("mvt_zc_third").Z == 3
    finally:
        for name in ("mvt_zc_first", "mvt_zc_second", "mvt_zc_third"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def test_install_is_idempotent():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.stamped
    importcache.install()
    importlib.reload(mapnik_vector_tile_spark)
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_reused_worker_runs_the_wrapper(spark):
    """A mapInPandas whose function imports the package installs the
    wrapper in its worker; in a task of a worker that had imported the
    package before, pyspark's per-task invalidate_caches went through
    it, so every zip importer (pyspark.zip, py4j's zip) carries the stamp
    of its archive."""
    import pandas as pd

    def probe(it):
        import sys
        import zipimport

        reused = "mapnik_vector_tile_spark" in sys.modules
        zips = [v for v in list(sys.path_importer_cache.values())
                if isinstance(v, zipimport.zipimporter)]
        from mapnik_vector_tile_spark import importcache

        stamped = sum(getattr(z, "_stamp", None) == importcache._stamp(z.archive) for z in zips)
        for _ in it:
            pass
        yield pd.DataFrame({
            "reused": [reused], "zips": [len(zips)], "stamped": [stamped],
            "wrapped": [bool(getattr(zipimport.zipimporter.invalidate_caches, "stamped", False))],
        })

    df = spark.range(1, numPartitions=1)
    rows = []
    for _ in range(8):
        rows += df.mapInPandas(probe, "reused boolean, zips int, stamped int, wrapped boolean").collect()
        if any(r.reused for r in rows):
            break
    assert all(r.wrapped for r in rows)
    reused = [r for r in rows if r.reused]
    assert reused, rows
    assert all(r.zips > 0 and r.stamped == r.zips for r in reused), reused
