"""The tile grid: every tree whose parquet leaves are not all on the
computation grid runs over a JVM range of tile ids, and the kernel reads
its parquet leaves in-process through ``ParquetRasterLayer.read_window``.

Each case is compared against the one-tile local oracle
(``kernel.evaluate_window``); the data are small integers so sums are
exact under any addition order.
"""

from __future__ import annotations

import math
import os

import numpy as np
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
def test_tile_grid_matches_local_oracle(spark, tmp_path, case):
    make = CASES[case]
    expr = make(tmp_path, spark) if case == "sparse_next_to_dense" else make(tmp_path)
    root = executor._as_root(expr)
    assert "manifest" not in executor._build(root, spark)[2]
    plan = root.to_dataframe(spark=spark)._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "Exchange" not in plan

    local = np.asarray(kernel.evaluate_window(expr))
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
