"""Raster terminal actions: what each one returns and how many Spark jobs
it costs.

* ``sum`` folds per-tile float64 partials on the driver in a documented
  order (per tile row in ascending ``tx``, then the rows in ascending
  ``ty``), bit for bit, whichever plan produced the partials.
* ``min``/``max`` keep Spark's NaN ordering over the pixels.
* ``read_array`` runs in the calling process, submits no Spark job, and
  equals the distributed tile plan on every kind of leaf.
* Row groups decoded concurrently (ahead of each tile of the tile grid, on
  the driver's cores; a task decodes on the cores it owns) give the same
  bits as one-by-one decodes, and a read scope never holds more than its
  bound.
* A dense table whose tile manifest lost a row group fails loudly instead
  of reading as zeros.
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.plans import executor
from yirgacheffe_spark.plans.kernel import evaluate_window
from yirgacheffe_spark.sources import geotiff as G
from yirgacheffe_spark.sources import parquet as pqr

STEP = 0.01
PROJ = yg.MapProjection("epsg:4326", STEP, -STEP)
T = 4  # the computation tile size the conftest fixture sets
H, W = 22, 26


def _area(h: int, w: int, dy: int = 0, dx: int = 0) -> yg.Area:
    return yg.Area(dx * STEP, -dy * STEP, (dx + w) * STEP, -(dy + h) * STEP, PROJ)


def _table(tmp_path, name, data, dy=0, dx=0, tile_size=T):
    return yg.write_array_as_raster_table(
        str(tmp_path / name), data, _area(*data.shape, dy, dx), tile_size=tile_size)


def _wide_floats(seed: int, h: int = H, w: int = W) -> np.ndarray:
    """Values spanning twelve decades, so the addition order shows in the
    bits of a sum."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((h, w)) * 10.0 ** rng.integers(-6, 7, (h, w))


def _documented_fold(data: np.ndarray) -> float:
    total = 0.0
    for ty in range(-(-data.shape[0] // T)):
        acc = 0.0
        for tx in range(-(-data.shape[1] // T)):
            tile = np.ascontiguousarray(data[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T])
            acc += float(np.sum(tile, dtype=np.float64))
        total += acc
    return total


def _plan(expr, spark) -> str:
    return "manifest" if "manifest" in executor._build(executor._as_root(expr), spark)[2] else "grid"


def test_sum_is_the_documented_fold_on_both_plans_and_after_save(spark, tmp_path):
    data = _wide_floats(1)
    want = _documented_fold(data)
    # The data must tell addition orders apart, or the test shows nothing.
    assert want != float(np.sum(data, dtype=np.float64))
    flat = 0.0
    for ty in range(-(-H // T)):
        for tx in range(-(-W // T)):
            flat += float(np.sum(np.ascontiguousarray(
                data[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T])))
    assert want != flat

    aligned = _table(tmp_path, "aligned", data)
    assert _plan(aligned, spark) == "manifest"
    assert aligned.sum(spark=spark) == want

    unaligned = _table(tmp_path, "unaligned", data, tile_size=3)
    assert _plan(unaligned, spark) == "grid"
    assert unaligned.sum(spark=spark) == want

    in_memory = yg.from_array(data, (0.0, 0.0), PROJ)
    assert _plan(in_memory, spark) == "grid"
    assert in_memory.sum(spark=spark) == want

    assert in_memory.save(str(tmp_path / "saved"), and_sum=True, spark=spark) == want


def test_min_max_keep_spark_nan_ordering(spark, tmp_path):
    """Pixel-level Spark (and DuckDB) ordering: ``min`` ignores NaN unless
    every pixel is NaN, and ``max`` is NaN as soon as one pixel is."""
    data = np.arange(H * W, dtype=np.float64).reshape(H, W) - 100.0
    data[0, 0] = np.nan  # tile (0, 0) holds the smallest value, and a NaN
    for layer in (_table(tmp_path, "t", data), yg.from_array(data, (0.0, 0.0), PROJ)):
        # The NaN pixel must not hide the rest of its tile's numbers.
        assert layer.min(spark=spark) == float(np.nanmin(data)) == -99.0
        assert np.isnan(layer.max(spark=spark))

    # A nodata pixel reads as NaN: the same ordering, on an integer table.
    ints = (np.arange(H * W).reshape(H, W) - 100).astype(np.int16)
    nodata = yg.write_array_as_raster_table(
        str(tmp_path / "nodata"), ints, _area(H, W), nodata=-100, tile_size=T)
    assert nodata.min(spark=spark) == -99.0
    assert np.isnan(nodata.max(spark=spark))

    nan_only = yg.from_array(np.full((H, W), np.nan), (0.0, 0.0), PROJ)
    assert np.isnan(nan_only.min(spark=spark))
    assert np.isnan(nan_only.max(spark=spark))


def _window(full: np.ndarray, x, y, w, h) -> np.ndarray:
    """``full[y:y+h, x:x+w]`` with zeros outside ``full``."""
    out = np.zeros((h, w), dtype=full.dtype)
    y0, y1 = max(y, 0), min(y + h, full.shape[0])
    x0, x1 = max(x, 0), min(x + w, full.shape[1])
    if y0 < y1 and x0 < x1:
        out[y0 - y:y1 - y, x0 - x:x1 - x] = full[y0:y1, x0:x1]
    return out


def _ints(seed, h=H, w=W):
    return np.random.default_rng(seed).integers(0, 9, (h, w)).astype(np.int16)


def _single(tmp_path, spark):
    return _table(tmp_path, "a", _ints(1)) * 2


def _planar(tmp_path, spark):
    return _table(tmp_path, "a", _ints(2)) + _table(tmp_path, "b", _ints(3)) * 3


def _interleaved(tmp_path, spark):
    bands = pqr.write_multiband_interleaved(
        str(tmp_path / "il"), {1: _ints(4), 2: _ints(5)}, _area(H, W), tile_size=T)
    return bands[1] * 10 + bands[2]


def _sparse(tmp_path, spark):
    data = _ints(6)
    data[:8] = 0
    path = str(tmp_path / "sparse")
    yg.from_array(data, (0.0, 0.0), PROJ).save(path, sparse=True, spark=spark)
    return yg.read_raster(path) + 1


def _mosaic(tmp_path, spark):
    full = _ints(7)
    top = _table(tmp_path, "top", full[:12])
    bottom = _table(tmp_path, "bottom", full[10:], dy=10)
    return yg.read_rasters([top.path, bottom.path]) * 2


def _conv2d(tmp_path, spark):
    return _table(tmp_path, "a", _ints(8).astype(np.float32)).conv2d(
        np.ones((5, 5), dtype=np.float32) / 25)


def _geotiff(tmp_path, spark):
    path = str(tmp_path / "g.tif")
    G.write_geotiff(path, _ints(9), _area(H, W), tile_size=16)
    return yg.read_raster(path) - 3


LEAVES = {
    "single_table": _single,
    "planar": _planar,
    "interleaved": _interleaved,
    "sparse": _sparse,
    "mosaic": _mosaic,
    "conv2d": _conv2d,
    "geotiff": _geotiff,
}

# (x, y, width, height): an interior window, one straddling each edge, a
# corner, one larger than the raster, and two fully outside it.
WINDOWS = [
    (5, 6, 9, 7), (3, -4, 10, 8), (4, H - 3, 11, 6), (-5, 2, 9, 9),
    (W - 6, 9, 10, 5), (W - 3, H - 2, 7, 7), (-2, -3, W + 5, H + 7),
    (W + 1, 0, 4, 4), (-9, -9, 5, 5),
]


@pytest.mark.parametrize("leaf", sorted(LEAVES))
def test_read_array_equals_the_distributed_tile_plan(spark, tmp_path, leaf,
                                                    distributed):
    expr = LEAVES[leaf](tmp_path, spark)
    full = distributed(expr)
    for x, y, w, h in WINDOWS:
        np.testing.assert_array_equal(
            expr.read_array(x, y, w, h, spark=spark), _window(full, x, y, w, h),
            err_msg=f"{leaf} window {(x, y, w, h)}")


def _unaligned(tmp_path, spark):
    return _table(tmp_path, "u", _ints(13), tile_size=3) * 3 - 1


# Windows that straddle row-group boundaries of the 16-tile row groups
# (tile rows 2 and 4 of a 7-tile-wide table at tile 4 are split).
RG_WINDOWS = [(0, 8, W, 4), (6, 9, 10, 8), (10, 14, 9, 6), (1, 5, 24, 15)]


@pytest.mark.parametrize("leaf", sorted({**LEAVES, "unaligned": _unaligned}))
def test_concurrent_decode_is_exact_against_the_local_oracle(spark, tmp_path, leaf):
    """``read_array`` (row groups decoded concurrently ahead of each tile),
    ``sum`` and ``unique`` are bit-identical to ``evaluate_window``, which
    decodes one row group at a time."""
    expr = {**LEAVES, "unaligned": _unaligned}[leaf](tmp_path, spark)
    full = np.asarray(evaluate_window(expr))
    # read_array returns the expression's dtype; the reductions see the
    # kernel's result as evaluated.
    out = full.astype(executor._as_root(expr).datatype.to_numpy())
    for x, y, w, h in WINDOWS + RG_WINDOWS:
        np.testing.assert_array_equal(
            expr.read_array(x, y, w, h, spark=spark), _window(out, x, y, w, h),
            err_msg=f"{leaf} window {(x, y, w, h)}")
    assert expr.sum(spark=spark) == _documented_fold(full)
    np.testing.assert_array_equal(expr.unique(spark=spark),
                                  np.unique(full.astype(np.float64)))


def test_decode_threads_follow_the_cores_the_caller_owns(spark):
    """The driver decodes on every core it may use; a task on the cores
    Spark gave it (``spark.task.cpus``), as its executor already runs one
    task per core."""
    assert pqr._caller_cores() == len(os.sched_getaffinity(0))
    got = spark.sparkContext.parallelize([0], 1).map(
        lambda _: pqr._caller_cores()).collect()
    assert got == [int(spark.sparkContext.getConf().get("spark.task.cpus", "1"))]


def test_concurrent_decodes_of_one_file_equal_sequential_ones(tmp_path, monkeypatch):
    # Four decode threads per call whatever this host's core count.
    monkeypatch.setattr(pqr, "_caller_cores", lambda: 4)
    layer = _table(tmp_path, "big", _ints(14, 40, 44))
    (f, rows), = ((os.path.join(layer.path, n), rows)
                  for n, rows in pqr.read_tile_manifest(layer.path).items())
    keys = [(f, row[0]) for row in rows]
    assert len(keys) > 4
    with ThreadPoolExecutor(3) as pool:
        runs = [fut.result(timeout=60) for fut in
                [pool.submit(pqr._decoded_row_groups, keys) for _ in range(3)]]
    for got in runs:
        assert list(got) == keys
        for key in keys:
            want = pqr._decoded_row_group(*key)
            for a, b in zip(got[key][:5], want[:5]):
                np.testing.assert_array_equal(a, b)
            assert [bytes(v) for v in got[key][5]] == [bytes(v) for v in want[5]]


def test_read_scope_never_exceeds_its_bound(spark, tmp_path, monkeypatch):
    """``to_numpy`` over a table of more row groups than a read scope may
    hold, with a stencil so each tile reads its neighbours' row groups:
    the instrumented scope peaks at its bound, never above it."""
    peak = [0]

    class Counting(dict):
        def __setitem__(self, key, value):
            super().__setitem__(key, value)
            peak[0] = max(peak[0], len(self))

    class Scope(pqr._ReadScope):
        def __init__(self):
            super().__init__()
            self.rgs = Counting()

    monkeypatch.setattr(pqr, "_ReadScope", Scope)
    data = _ints(15, 72, 72)
    layer = _table(tmp_path, "big", data)
    assert sum(map(len, pqr.read_tile_manifest(layer.path).values())) > pqr._READ_SCOPE_MAX_RGS
    expr = layer.conv2d(np.ones((3, 3), dtype=np.float32)) + layer
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), evaluate_window(expr))
    assert peak[0] == pqr._READ_SCOPE_MAX_RGS


def test_read_array_submits_no_spark_job(spark, tmp_path, distributed):
    expr = _conv2d(tmp_path, spark) + _table(tmp_path, "b", _ints(10))
    sc = spark.sparkContext
    sc.setJobGroup("read-array-jobs", "read_array")
    try:
        got = expr.read_array(3, 2, 12, 9, spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("read-array-jobs")) == 0
    np.testing.assert_array_equal(got, _window(distributed(expr), 3, 2, 12, 9))


def test_read_scopes_are_per_thread(tmp_path):
    """``read_array`` opens a read scope in the calling thread; another
    thread neither sees nor pops it, and concurrent reads stay exact."""
    pqr.push_read_scope()
    try:
        with ThreadPoolExecutor(1) as pool:
            assert pool.submit(lambda: list(pqr._scope_stack())).result(timeout=30) == []
        assert len(pqr._scope_stack()) == 1
    finally:
        pqr.pop_read_scope()

    data = _ints(11)
    layer = _table(tmp_path, "a", data)
    wins = [(x, y, 6, 5) for x in range(0, W - 6, 3) for y in range(0, H - 5, 4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(layer.read_array, *v) for v in wins * 2]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for (x, y, w, h), arr in zip(wins * 2, got):
        np.testing.assert_array_equal(arr, _window(data, x, y, w, h))
    assert pqr._scope_stack() == []


def test_threaded_reads_share_process_caches_exactly(tmp_path):
    """``read_array`` runs in the caller's threads, which share the
    process-wide reader state: more tables than the parquet handle and
    manifest caches hold (64 each), so threads evict concurrently, and one
    GeoTIFF whose blocks all threads read through one open file.  Every
    window must come back exact."""
    tables = []
    for i in range(70):
        data = _ints(100 + i, 9, 10)
        tables.append((_table(tmp_path, f"t{i}", data), data))
    tif_data = np.random.default_rng(13).integers(0, 30000, (48, 64)).astype(np.int16)
    tif = str(tmp_path / "g.tif")
    G.write_geotiff(tif, tif_data, _area(48, 64), tile_size=16)
    tif_layer = yg.read_raster(tif)

    jobs = [(layer, data, (x, y, 6, 5)) for layer, data in tables
            for x, y in ((0, 0), (3, 4))] * 3
    jobs += [(tif_layer, tif_data, (x, y, 13, 11))
             for x in range(0, 50, 7) for y in range(0, 36, 5)] * 20
    order = np.random.default_rng(0).permutation(len(jobs))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(jobs[i][0].read_array, *jobs[i][2]) for i in order]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for i, arr in zip(order, got):
        _layer, data, (x, y, w, h) = jobs[i]
        np.testing.assert_array_equal(arr, _window(data, x, y, w, h))


def test_stale_manifest_fails_loudly(spark, tmp_path):
    """A dense table whose manifest no longer lists one of its row groups
    must not read that row group's tiles as zeros."""
    data = _ints(12) + 1  # no zero pixel: a dropped tile would sum lower
    layer = _table(tmp_path, "t", data)
    path = os.path.join(layer.path, pqr.MANIFEST_JSON)
    with open(path, encoding="utf-8") as fp:
        doc = json.load(fp)
    (name, rows), = doc["entries"].items()
    assert len(rows) > 1
    doc["entries"][name] = rows[:-1]  # the last row group holds the bottom tiles
    with open(path, "w", encoding="utf-8") as fp:
        json.dump(doc, fp)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))

    assert _plan(layer, spark) == "manifest"
    with pytest.raises(RuntimeError, match="manifest"):
        layer.sum(spark=spark)
    with pytest.raises(RuntimeError, match="manifest"):
        layer.unique(spark=spark)
    with pytest.raises(RuntimeError, match="manifest"):
        layer.read_array(0, H - 4, W, 4)
    # The tiles the manifest still lists read as before.
    np.testing.assert_array_equal(layer.read_array(0, 0, W, 4), data[:4])
