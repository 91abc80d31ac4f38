"""The tile grid: every tree runs over a JVM range of run ids, each run
``parquet.ROW_GROUP_TILES`` tile ids when it has a parquet leaf (one id
when it has none), halved once when the halved runs fit one wave of
the cores; the kernel expands the runs, decodes the row groups its
parquet leaves say each tile reads, and reads the leaves in-process
through ``ParquetRasterLayer.read_window``.

Each case is compared against the one-tile local oracle
(``kernel.evaluate_window``); the data are small integers so sums are
exact under any addition order.  The schedule (every tile once, in
whole runs, their length chosen by the tree and the cores) and the
indexed row-group lookup are tested directly.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.plans import executor, kernel
from yirgacheffe_spark.sources import parquet as pqr

STEP = 0.01
PROJ = yg.MapProjection("epsg:4326", STEP, -STEP)
H, W = 22, 26


def _area(h: int, w: int, dy: int = 0, dx: int = 0) -> yg.Area:
    return yg.Area(dx * STEP, -dy * STEP, (dx + w) * STEP, -(dy + h) * STEP, PROJ)


def _data(seed: int, h: int = H, w: int = W) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 9, (h, w)).astype(np.int16)


def _table(tmp_path, name: str, data: np.ndarray, dy: int = 0, dx: int = 0,
           tile_size: int = 4):
    return yg.write_array_as_raster_table(
        str(tmp_path / name), data, _area(*data.shape, dy, dx), tile_size=tile_size)


def _rewrite_row_groups(layer, rows_per_group: int) -> None:
    """Rewrite a table's part file with another row-group size (and its
    manifest), so its row-group sequence differs from its neighbours'."""
    part = os.path.join(layer.path, "part-00000.parquet")
    pq.write_table(pq.read_table(part), part, row_group_size=rows_per_group)
    pqr.write_tile_manifest(layer.path)


def _no_manifest(layer):
    os.remove(os.path.join(layer.path, pqr.MANIFEST_JSON))
    return layer


def _union_grown(tmp_path):
    return _table(tmp_path, "a", _data(1)) + _table(tmp_path, "b", _data(2), dy=3, dx=5)


def _half_tiles(tmp_path):
    return _table(tmp_path, "a", _data(3), tile_size=2) * 2 + 1


def _shifted_intersection(tmp_path):
    return _table(tmp_path, "a", _data(4)) * _table(tmp_path, "b", _data(5), dy=2, dx=1)


def _sparse_next_to_dense(tmp_path, spark):
    data = _data(6)
    data[:8] = 0  # two all-zero tile rows the sparse save drops
    sparse_path = str(tmp_path / "sparse")
    yg.from_array(data, (0.0, 0.0), PROJ).save(sparse_path, sparse=True, spark=spark)
    return yg.read_raster(sparse_path) * 3 + _table(tmp_path, "dense", _data(7))


def _planar_rows_differ(tmp_path):
    a, b = _table(tmp_path, "a", _data(8)), _table(tmp_path, "b", _data(9))
    _rewrite_row_groups(b, 5)
    return a * 2 + (b >= 4) * a


def _no_manifest_unaligned(tmp_path):
    return _no_manifest(_table(tmp_path, "a", _data(10), tile_size=3)) + 1


def _no_manifest_mosaic(tmp_path):
    full = _data(11)
    top = _no_manifest(_table(tmp_path, "top", full[:12]))
    bottom = _table(tmp_path, "bottom", full[10:], dy=10)
    return yg.read_rasters([top.path, bottom.path]) * 2


CASES = {
    "union_grown": _union_grown,
    "half_size_tiles": _half_tiles,
    "shifted_intersection": _shifted_intersection,
    "sparse_next_to_dense": _sparse_next_to_dense,
    "planar_row_groups_differ": _planar_rows_differ,
    "no_manifest": _no_manifest_unaligned,
    "no_manifest_mosaic_child": _no_manifest_mosaic,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_tile_grid_matches_local_oracle(spark, tmp_path, case, distributed):
    make = CASES[case]
    expr = make(tmp_path, spark) if case == "sparse_next_to_dense" else make(tmp_path)
    root = executor._as_root(expr)
    plan = root.to_dataframe(spark=spark)._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "Exchange" not in plan

    local = np.asarray(kernel.evaluate_window(expr))
    np.testing.assert_array_equal(distributed(expr), local)
    np.testing.assert_array_equal(np.asarray(expr.to_numpy(spark=spark)), local)
    assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))
    # A window straddling the lower-right edge reads zeros outside.
    h, w = local.shape
    want = np.zeros((7, 9), dtype=local.dtype)
    want[:4, :5] = local[h - 4:, w - 5:]
    np.testing.assert_array_equal(
        np.asarray(expr.read_array(w - 5, h - 4, 9, 7, spark=spark)), want)


@pytest.mark.parametrize("manifest", [True, False])
def test_one_tile_read_decodes_one_row_group(tmp_path, monkeypatch, manifest):
    """A one-tile window decodes only the row group holding that tile, from
    the manifest's ranges or, without one, from the footers'."""
    data = np.arange(32 * 32, dtype=np.int32).reshape(32, 32)
    layer = _table(tmp_path, "t", data)  # 64 tiles in 4 row groups of 16
    if not manifest:
        _no_manifest(layer)
    assert len(pqr._pruned_row_groups(layer.path, 1, 1, (0, 7, 0, 7))) == 4

    reads = []
    real = pq.ParquetFile.read_row_group

    def counting(self, i, *args, **kwargs):
        reads.append(i)
        return real(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    got = layer.read_window(20, 28, 4, 4, layer.window)
    np.testing.assert_array_equal(got, data[28:32, 20:24])
    assert reads == [3]


def test_save_clusters_rows_of_a_tile_grid_tree(spark, tmp_path):
    """Saving a union-grown expression writes each task's contiguous run of
    tiles, so a row group spans only the tile rows of one run and readers
    can prune it.  A hash repartition on tile coordinates scrambles the
    runs: row groups then span nearly every tile row."""
    expr = _union_grown(tmp_path)
    out = str(tmp_path / "saved")
    total = expr.save(out, and_sum=True, spark=spark)
    local = np.asarray(kernel.evaluate_window(expr))
    assert total == float(local.sum(dtype=np.float64))
    np.testing.assert_array_equal(yg.read_raster(out).read_array(0, 0, *local.shape[::-1]),
                                  local)

    tiles_y, tiles_x = math.ceil(local.shape[0] / 4), math.ceil(local.shape[1] / 4)
    n = tiles_y * tiles_x
    per_task = math.ceil(n / min(n, 2 * spark.sparkContext.defaultParallelism))
    max_rows = math.ceil(per_task / tiles_x) + 1
    spans = [ymm[1] - ymm[0] + 1
             for rows in pqr.read_tile_manifest(out).values() for _rg, ymm, _x, _b in rows]
    assert spans and max(spans) <= max_rows < tiles_y, (spans, max_rows, tiles_y)


@pytest.mark.parametrize("n_y, n_x", [(1, 1), (3, 5), (4, 4), (1, 17), (6, 4), (13, 11),
                                      (40, 25)])
@pytest.mark.parametrize("run", [pqr.ROW_GROUP_TILES, 1])
def test_grid_runs_every_tile_once_in_whole_runs(spark, grid_tasks, n_y, n_x, run):
    """The tile grid is a bare range of run ids, as many partitions as runs
    up to twice the default parallelism, or up to one per tile row when
    ``to_geotiff`` asks for that; expanded as the kernel expands them, its
    runs list every tile of the window exactly once, in row-major order
    across the partitions, and every partition starts at a multiple of
    ``run``."""
    payload = {"run": run, "tiles_y": n_y, "tiles_x": n_x}
    for partitions, cap in ((None, 2 * spark.sparkContext.defaultParallelism),
                            (n_y, n_y)):
        df = executor._base_grid(spark, n_y * n_x, run, partitions)
        ids = [[ty * n_x + tx for ty, tx in tiles] for tiles in grid_tasks(payload, df)]
        assert [i for rows in ids for i in rows] == list(range(n_y * n_x))
        assert all(rows[0] % run == 0 for rows in ids if rows), ids
        assert len(ids) == min(-(-n_y * n_x // run), cap)


@pytest.mark.parametrize("n, cores, task_cpus, reads_parquet, run", [
    (24, 4, 1, True, 8), (42, 4, 1, True, 16), (33, 4, 1, True, 16), (6, 4, 1, True, 8),
    (4, 4, 1, True, 8), (1, 4, 1, True, 8), (24, 4, 2, True, 16), (24, 4, 1, False, 1),
    (42, 4, 1, False, 1), (1, 4, 1, False, 1)])
def test_run_length_fits_the_cores(n, cores, task_cpus, reads_parquet, run):
    """A tree that reads a parquet table starts from runs of
    ``ROW_GROUP_TILES`` tiles, one that reads none from runs of one; the
    run is halved, once, when the halved runs still fit one wave of the
    ``cores // task_cpus`` tasks that run at once.  The kernel's
    expansion of the runs, fed in batches of any size, yields every tile
    once, row-major, the last run short when the run does not divide the
    window."""
    start = pqr.ROW_GROUP_TILES if reads_parquet else 1
    assert executor._run_length(n, start, cores, task_cpus) == run
    for n_y in (1, n):  # one tile row, and one tile column
        n_x = n // n_y
        payload = {"run": run, "tiles_y": n_y, "tiles_x": n_x}
        runs = list(range(-(-n // run)))
        for size in (1, 2, len(runs)):
            batches = [pa.record_batch({"id": runs[i:i + size]})
                       for i in range(0, len(runs), size)]
            tiles = list(executor._run_tiles(payload, batches))
            assert tiles == [divmod(i, n_x) for i in range(n)]
        last = list(executor._run_tiles(payload, [pa.record_batch({"id": runs[-1:]})]))
        assert len(last) == n - runs[-1] * run


def test_grid_run_follows_the_tree(spark, tmp_path, distributed, grid_tasks):
    """A tree that reads a parquet table, as a leaf, through a mosaic or
    through a reprojection, runs in whole row groups (``ROW_GROUP_TILES``
    tile ids a run) when its window has enough tiles to fill the cores
    with them, and in runs halved once when it has not (24 tiles on 4
    cores: 3 runs of 8; 4 tiles: one run of 8).  A tree that reads none
    has no row group to
    share, so its tiles spread over the full parallelism, one id a run.
    Every task starts at a whole run and the results equal the local
    oracle's."""
    assert spark.sparkContext.defaultParallelism == 4
    data = _data(4, 24, 28)  # 6 x 7 tiles of 4
    small = _data(5, 16, 24)  # 4 x 6 tiles of 4
    k = np.ones((3, 3), dtype=np.float32)
    for expr, n, run in (
            (_table(tmp_path, "a", data).conv2d(k), 42, pqr.ROW_GROUP_TILES),
            (yg.GroupLayer([_table(tmp_path, "b", data)]) * 2, 42, pqr.ROW_GROUP_TILES),
            # Reprojected onto its own grid: the same 6 x 7 tiles.
            (_table(tmp_path, "f", data).as_projection(PROJ), 42, pqr.ROW_GROUP_TILES),
            (_table(tmp_path, "c", small) * 2, 24, 8),
            (_table(tmp_path, "d", small).conv2d(k), 24, 8),
            (_table(tmp_path, "e", _data(6, 8, 8)).conv2d(k), 4, 8),
            (yg.from_array(data, (0.0, 0.0), PROJ).conv2d(k), 42, 1)):
        _spark, _root, payload, _bc, df = executor._build(expr, spark)
        assert payload["run"] == run
        tasks = grid_tasks(payload, df)
        assert len(tasks) == min(-(-n // run), 2 * spark.sparkContext.defaultParallelism)
        n_x = payload["tiles_x"]
        assert [ty * n_x + tx for tiles in tasks for ty, tx in tiles] == list(range(n))
        assert all((tiles[0][0] * n_x + tiles[0][1]) % run == 0 for tiles in tasks if tiles)
        local = kernel.evaluate_window(expr)
        np.testing.assert_array_equal(distributed(expr), local)
        assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))


def _prefetch_trees(tmp_path) -> dict:
    """Trees whose every parquet read the tile grid can predict: a
    three-leaf mask, stencils, mosaics of overlapping strips, a table off
    the computation grid's tile origin and tile size, and an ``as_area``
    window larger than its leaf."""
    hab, elev, qty = (_table(tmp_path, name, _data(seed, 24, 28))
                      for name, seed in (("hab", 20), ("elev", 21), ("qty", 22)))
    full = _data(23, 24, 28)
    mosaic = yg.GroupLayer([_table(tmp_path, f"strip{i}", full[y0:y1], dy=y0)
                            for i, (y0, y1) in enumerate(((0, 10), (7, 18), (15, 24)))])
    offset = _table(tmp_path, "offset", _data(24, 18, 22), dy=5, dx=3, tile_size=3)
    k3, k5 = np.ones((3, 3), dtype=np.float32), np.ones((5, 5), dtype=np.float32)
    return {
        "aoh": hab.isin([1, 5, 7]) * ((elev >= 2) & (elev <= 6)) * qty,
        "conv2d_5x5": qty.conv2d(k5),
        "mosaic": mosaic,
        "mosaic_conv2d_plus_leaf": mosaic.conv2d(k3) + qty,
        "offset_plus_leaf": offset + qty,
        "as_area": (qty * 2).as_area(_area(30, 20, dy=-3, dx=6)),
        "offset_conv2d": offset.conv2d(k3),
    }


@pytest.mark.parametrize("name", ["aoh", "conv2d_5x5", "mosaic", "mosaic_conv2d_plus_leaf",
                                  "offset_plus_leaf", "as_area", "offset_conv2d"])
def test_every_leaf_read_was_prefetched(spark, tmp_path, monkeypatch, grid_tasks, name):
    """Ahead of each tile the grid decodes the row groups its leaves say
    their reads will decode (``ParquetRasterLayer.row_groups``), so inside
    the kernel of each task of the grid no ``read_window`` decodes a row
    group itself, and every tile equals the local oracle's."""
    expr = _prefetch_trees(tmp_path)[name]
    misses = []
    inside = [0]
    real_read, real_decode = pqr.ParquetRasterLayer.read_window, pqr._decoded_row_group

    def read_window(self, *args):
        inside[0] += 1
        try:
            return real_read(self, *args)
        finally:
            inside[0] -= 1

    def decoded(f, rg):
        if inside[0]:
            misses.append((os.path.basename(os.path.dirname(f)), rg))
        return real_decode(f, rg)

    monkeypatch.setattr(pqr.ParquetRasterLayer, "read_window", read_window)
    monkeypatch.setattr(pqr, "_decoded_row_group", decoded)
    monkeypatch.setattr(pqr, "_caller_cores", lambda: 1)  # every decode via the hook
    local = np.asarray(kernel.evaluate_window(expr))
    misses.clear()
    _spark, _root, payload, _bc, df = executor._build(expr, spark)
    assert payload["leaves"]
    for tiles in grid_tasks(payload, df):
        for ty, tx, h, w, result in executor._tile_results(payload, tiles):
            np.testing.assert_array_equal(result, local[ty * 4:ty * 4 + h, tx * 4:tx * 4 + w])
    assert misses == []


def test_indexed_row_group_lookup_equals_a_full_scan(tmp_path):
    """``_pruned_row_groups`` finds a table's row groups through an index of
    its listing by first tile row.  Over random listings — row groups that
    span one tile row or many, and some without statistics, which may hold
    any tile — it returns what a filter over every row group returns."""
    rng = np.random.default_rng(3)

    def minmax(lo_max, span_max):
        if rng.random() < 0.1:
            return None
        if rng.random() < 0.05:  # a few row groups span far more tile rows
            span_max = 60
        lo = int(rng.integers(0, lo_max))
        return [lo, lo + int(rng.integers(0, span_max + 1))]

    for trial in range(20):
        path = str(tmp_path / f"t{trial}")
        os.makedirs(path)
        span = (1, 3, 40)[trial % 3]
        entries = {
            f"part-{i:05d}.parquet": [
                [rg, minmax(60, span), minmax(30, 4), minmax(3, 1)]
                for rg in range(int(rng.integers(1, 40)))]
            for i in range(3)}
        with open(os.path.join(path, pqr.MANIFEST_JSON), "w", encoding="utf-8") as fp:
            json.dump({"version": 2, "entries": entries}, fp)
        rows = [(os.path.join(path, name), r[0], *(tuple(v) if v else None for v in r[1:]))
                for name in sorted(entries) for r in entries[name]]
        for _ in range(50):
            sy_lo, sx_lo, b_lo = (int(v) for v in rng.integers(-2, (62, 32, 4)))
            sy_hi = sy_lo + int(rng.integers(0, 8))
            sx_hi = sx_lo + int(rng.integers(0, 8))
            b_hi = b_lo + int(rng.integers(0, 2))
            want = [(f, rg, y, x) for f, rg, y, x, b in rows
                    if not (b and (b[1] < b_lo or b[0] > b_hi))
                    and not (y and (y[1] < sy_lo or y[0] > sy_hi))
                    and not (x and (x[1] < sx_lo or x[0] > sx_hi))]
            assert pqr._pruned_row_groups(
                path, b_lo, b_hi, (sy_lo, sy_hi, sx_lo, sx_hi)) == want
