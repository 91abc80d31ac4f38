"""Regressions for the round-5 core-engine review findings: multi-ring halo
exchange, GeoTIFF/parquet nodata parity, reader-cache invalidation, the
save_multiband square-tile guard, write_geotiff abort, the no-EPSG guard,
process-stable leaf CSE hashes, and the kernels' zip-finder eviction."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.grid import Area, MapProjection
from yirgacheffe_spark.plans import kernel


def _proj(step=0.02):
    return MapProjection("epsg:4326", step, -step)


class TestMultiRingHalo:
    def test_conv2d_pad_exceeding_tile_size_on_aligned_leaf(self, spark, tmp_path,
                                                            distributed):
        """Stencil pad (5) > computation tile size (4): the aligned
        body+halo path must reach ring-2 neighbours; the old 1-ring
        exchange silently zeroed the outer halo rows."""
        rng = np.random.default_rng(17)
        data = rng.normal(size=(20, 24)).astype(np.float32)
        path = str(tmp_path / "big_pad")
        yg.write_array_as_raster_table(path, data, Area(10.0, 50.0, 10.0 + 24 * 0.02,
                                                        50.0 - 20 * 0.02, _proj()),
                                       tile_size=4)
        layer = yg.read_raster(path)
        k = np.ones((11, 11), dtype=np.float32)  # pad 5 > tile 4
        expr = layer.conv2d(k)
        want = kernel.evaluate_window(expr)
        # The tasks' halo-grown reads reach the ring-2 neighbours.
        np.testing.assert_allclose(distributed(expr), want, rtol=1e-6, equal_nan=True)
        got = expr.to_numpy(spark=spark)
        np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)

    def test_conv2d_pad_exceeding_tile_size_on_tile_grid(self, spark, tmp_path,
                                                        distributed):
        """Same case over storage tiles of 3, off the computation grid: the
        tile grid's halo-grown reads reach ring-2 neighbours too."""
        rng = np.random.default_rng(18)
        # Small integers: every sum is exact, so the tiles compare bit for bit.
        data = rng.integers(-9, 10, (16, 16)).astype(np.float32)
        path = str(tmp_path / "big_pad_grid")
        yg.write_array_as_raster_table(path, data, Area(10.0, 50.0, 10.0 + 16 * 0.02,
                                                        50.0 - 16 * 0.02, _proj()),
                                       tile_size=3)
        layer = yg.read_raster(path)
        expr = layer.conv2d(np.ones((11, 11), dtype=np.float32))
        plan = expr.to_dataframe(spark=spark)._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan and "Exchange" not in plan  # the tile grid
        want = kernel.evaluate_window(expr)
        np.testing.assert_array_equal(distributed(expr), want)
        np.testing.assert_array_equal(expr.to_numpy(spark=spark), want)


class TestNodataFormatParity:
    def test_int_nodata_same_result_geotiff_and_parquet(self, spark, tmp_path):
        """A uint8 raster with nodata=255 must aggregate identically whether
        it is read from GeoTIFF or from a parquet tile table (the GeoTIFF
        path used to skip NaN substitution for integer dtypes)."""
        from yirgacheffe_spark.sources.geotiff import write_geotiff

        data = np.array([[1, 2, 255], [4, 255, 6]], dtype=np.uint8)
        area = Area(0.0, 2.0, 3 * 0.5, 2.0 - 2 * 0.5, _proj(0.5))
        tif = str(tmp_path / "n.tif")
        write_geotiff(tif, data, area, nodata=255)
        pq = str(tmp_path / "n_pq")
        yg.write_array_as_raster_table(pq, data, area, tile_size=4, nodata=255)

        g = yg.read_raster(tif)
        p = yg.read_raster(pq)
        # nodata pixels become NaN in both paths -> identical windows
        gw = np.asarray(g.read_window(0, 0, 3, 2, g.window))
        pw = np.asarray(p.read_window(0, 0, 3, 2, p.window))
        np.testing.assert_array_equal(np.isnan(gw), np.isnan(pw))
        np.testing.assert_array_equal(np.nan_to_num(gw), np.nan_to_num(pw))
        assert np.isnan(gw).sum() == 2


class TestReaderCacheInvalidation:
    def test_overwrite_loop_rereads_fresh_table(self, spark, tmp_path):
        """save -> read -> save (overwrite) -> read must return the NEW data
        (the reader cache used to pin the first read's file listing)."""
        import time

        path = str(tmp_path / "loop")
        area = Area(10.0, 50.0, 10.0 + 8 * 0.02, 50.0 - 8 * 0.02, _proj())
        a = np.full((8, 8), 1.0, dtype=np.float64)
        yg.write_array_as_raster_table(path, a, area, tile_size=4)
        s1 = yg.read_raster(path).sum(spark=spark)
        assert s1 == 64.0
        # Several overwrite cycles: the stale-read bug lived in a WORKER-side
        # open-file cache keyed by path alone, so one cycle only failed when
        # the same worker got the re-read task — loop until every worker has
        # seen the file (caught in full-suite runs as a flaky 64 != 192).
        import shutil

        for i, v in enumerate((3.0, 5.0, 7.0, 11.0)):
            time.sleep(1.1)  # distinct dir mtime on coarse filesystems
            shutil.rmtree(path)
            yg.write_array_as_raster_table(
                path, np.full((8, 8), v, dtype=np.float64), area, tile_size=4)
            got = yg.read_raster(path).sum(spark=spark)
            assert got == v * 64, (i, v, got)

    def test_overwrite_within_float_mtime_resolution_replans(self, spark, tmp_path):
        """An overwrite stamped 1 ns after the old table, a difference a
        float st_mtime cannot show, must replan from the new footers.
        Keyed on float st_mtime, the footer-stats and tile-manifest caches
        served the old table's row-group ranges, which prune away the new
        table's second row group."""
        from yirgacheffe_spark.sources import parquet as pqr

        path = str(tmp_path / "ow")
        part = os.path.join(path, "part-00000.parquet")
        stamp = 1_700_000_000 * 10**9

        def write(data, ns):
            h, w = data.shape
            area = Area(10.0, 50.0, 10.0 + w * 0.02, 50.0 - h * 0.02, _proj())
            yg.write_array_as_raster_table(path, data, area, tile_size=4)
            for name in os.listdir(path):
                os.utime(os.path.join(path, name), ns=(ns, ns))

        # 8 x 40 px: tile rows 0-1, row groups of 16 and 4 tiles (the
        # second holds tile_x 6-9 only).
        wide = np.ones((8, 40))
        write(wide, stamp)
        assert yg.read_raster(path).sum(spark=spark) == wide.sum()
        old_mtime = os.stat(part).st_mtime
        # 40 x 8 px: tile columns 0-1, the second row group holds tile rows
        # 8-9 — pruned by the old ranges' tile_x 6-9.
        tall = np.arange(320.0).reshape(40, 8)
        write(tall, stamp + 1)
        assert os.stat(part).st_mtime == old_mtime  # the old key collides

        assert pqr._footer_stats(part) == pqr.row_group_tile_stats(part)
        assert yg.read_raster(path).sum(spark=spark) == tall.sum()


def test_write_geotiff_aborts_cleanly_on_midwrite_failure(tmp_path, monkeypatch):
    from yirgacheffe_spark.sources import geotiff as gt

    calls = {"n": 0}
    orig = gt.TiffStreamWriter.write_tile

    def boom(self, tile):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise ValueError("simulated mid-write failure")
        return orig(self, tile)

    monkeypatch.setattr(gt.TiffStreamWriter, "write_tile", boom)
    path = str(tmp_path / "fail.tif")
    area = Area(0.0, 2.0, 4.0, 0.0, _proj(0.5))
    with pytest.raises(ValueError, match="simulated"):
        gt.write_geotiff(path, np.ones((8, 8), dtype=np.float32), area,
                         tile_size=4)
    assert not os.path.exists(path)
    assert not os.path.exists(path + ".part")


def test_geotiff_without_epsg_geokey_is_refused(tmp_path, monkeypatch):
    from yirgacheffe_spark.sources import geotiff as gt

    area = Area(0.0, 2.0, 2.0, 0.0, _proj(0.5))
    path = str(tmp_path / "noepsg.tif")
    gt.write_geotiff(path, np.ones((4, 4), dtype=np.float32), area)

    real = gt._read_tiff_header

    def strip_epsg(p):
        parsed = real(p)
        parsed.epsg = None
        return parsed

    monkeypatch.setattr(gt, "_read_tiff_header", strip_epsg)
    with pytest.raises(ValueError, match="no resolvable EPSG"):
        yg.read_raster(path)


def test_leaf_cse_hash_stable_across_hash_seeds(tmp_path):
    """Leaf cse_hash must be process-stable: it is computed on the driver
    (shared-subexpression census) and recomputed on workers (kernel cache
    lookups); a str-salted hash() made every worker lookup silently miss."""
    from yirgacheffe_spark.sources.geotiff import write_geotiff

    area = Area(0.0, 2.0, 2.0, 0.0, _proj(0.5))
    tif = str(tmp_path / "h.tif")
    write_geotiff(tif, np.ones((4, 4), dtype=np.float32), area)
    layer = yg.read_raster(tif)
    pk = str(tmp_path / "leaf.pkl")
    with open(pk, "wb") as f:
        pickle.dump(layer, f)

    code = (
        "import sys, pickle; sys.path.insert(0, '/root/repo'); "
        "print(pickle.load(open(sys.argv[1], 'rb')).cse_hash)"
    )
    outs = []
    for seed in ("1", "9"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        r = subprocess.run([sys.executable, "-c", code, pk],
                           capture_output=True, text=True, env=env, check=True)
        outs.append(r.stdout.strip())
    assert outs[0] == outs[1] == str(layer.cse_hash)


class TestManifestBandPruning:
    def test_single_band_read_prunes_other_bands_row_groups(self, spark, tmp_path):
        """A one-band query over a non-interleaved multiband table must drop
        the other bands' row groups at planning time (files are band-pure),
        not decode them only to discard every row — and still be correct."""
        from yirgacheffe_spark.plans import executor as ex
        from yirgacheffe_spark.sources import parquet as pqr

        path = str(tmp_path / "mb")
        area = Area(10.0, 50.0, 10.0 + 8 * 0.02, 50.0 - 8 * 0.02, _proj())
        layers = [
            yg.from_array(np.full((8, 8), float(v), dtype=np.float64),
                          (10.0, 50.0), _proj())
            for v in (1.0, 2.0, 3.0)
        ]
        ex.save_multiband(layers, path, spark=spark)

        band2 = yg.read_raster(path, band=2)
        assert band2.sum(spark=spark) == 2.0 * 64

        # Planner-level check: the footer stats carry band ranges and the
        # band filter keeps strictly fewer row groups than all three bands.
        total_rgs = 0
        kept_files = set()
        import os as _os

        for f in sorted(_os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            stats = pqr._footer_stats(_os.path.join(path, f))
            total_rgs += len(stats)
            for _rg, _ymm, _xmm, bmm in stats:
                assert bmm is not None  # v2 manifest carries band stats
                if bmm[0] <= 2 <= bmm[1]:
                    kept_files.add(f)
        # band-pure files: only band-2 files may survive the band filter
        assert kept_files and len(kept_files) < total_rgs
        for f in kept_files:
            stats = pqr._footer_stats(_os.path.join(path, f))
            assert all(bmm == (2, 2) for _rg, _y, _x, bmm in stats)


def test_cse_does_not_merge_dtype_distinct_constants(spark):
    """(a + 1) and (a + 1.0) are different computations on integer layers
    (uint8 wrap vs float widen) but hash(1) == hash(1.0), so the CSE cache
    used to serve one result for both."""
    a = yg.from_array(np.array([[250, 251], [252, 255]], dtype=np.uint8),
                      (10.0, 50.0), _proj())
    int_branch = (a + 1) % 7          # uint8 arithmetic: 255+1 wraps to 0
    float_branch = (a + 1.0) / 2.0    # float widen: 255+1.0 = 256.0
    expr = int_branch + float_branch
    got = np.asarray(expr.to_numpy(spark=spark))
    base = np.array([[250, 251], [252, 255]], dtype=np.uint8)
    want = ((base + np.uint8(1)) % 7) + ((base + 1.0) / 2.0)
    np.testing.assert_allclose(got, want)
    # the local oracle must agree too (it shares the CSE cache machinery)
    np.testing.assert_allclose(np.asarray(kernel.evaluate_window(expr)), want)


def test_dag_walkers_linear_on_shared_subtrees(spark):
    """expr doubled 40 times is a 2^40-path DAG; plan-time walkers must
    memoize by identity or the driver hangs before any job starts."""
    a = yg.from_array(np.ones((4, 4), dtype=np.float64), (10.0, 50.0), _proj())
    e = a
    for _ in range(40):
        e = e + e
    assert e.sum(spark=spark) == 16 * 2.0 ** 40


def test_forget_zip_finders_skips_rereads_and_never_serves_stale(tmp_path, monkeypatch):
    """The Python task entry hook leaves no zipimporter for PySpark's
    per-task ``importlib.invalidate_caches()`` to re-read, while imports
    from the archive keep working and a rewritten archive is read afresh."""
    import importlib
    import zipfile
    import zipimport

    from yirgacheffe_spark._worker import task_start

    archive = tmp_path / "zprobe.zip"
    names = ("zprobe_pkg", "zprobe_pkg.first", "zprobe_pkg.second", "zprobe_pkg.third")

    def write(modules: dict) -> None:
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("zprobe_pkg/__init__.py", "")
            for name, value in modules.items():
                zf.writestr(f"zprobe_pkg/{name}.py", f"VALUE = {value!r}\n")

    def zip_finders():
        return [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]

    write({"first": 1, "second": 2})
    monkeypatch.syspath_prepend(str(archive))
    try:
        first = importlib.import_module("zprobe_pkg.first")
        assert first.VALUE == 1
        assert zip_finders()

        task_start()
        assert not zip_finders()
        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("zprobe_pkg.second").VALUE == 2

        # Rewrite the archive at the same path with other offsets and a
        # new module: a cached directory would serve the old one.
        task_start()
        write({"first": "rewritten", "third": 3})
        for name in names:
            sys.modules.pop(name, None)
        assert importlib.import_module("zprobe_pkg.first").VALUE == "rewritten"
        assert importlib.import_module("zprobe_pkg.third").VALUE == 3
    finally:
        for name in names:
            sys.modules.pop(name, None)
        task_start()
