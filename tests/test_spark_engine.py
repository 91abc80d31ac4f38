"""Distributed-execution correctness: Spark plans vs the one-tile local
oracle, tile-size invariance (the analog of the reference's YSTEP matrix),
window inference through the full pipeline, and aggregate semantics."""

import numpy as np
import pytest

import yirgacheffe_spark as yg
import yirgacheffe_spark.constants as C
from yirgacheffe_spark.plans.kernel import evaluate_window

PROJ = yg.MapProjection("epsg:4326", 0.02, -0.02)
RNG = np.random.default_rng(seed=42)


def L(data, origin=(10.0, 50.0), name=None):
    return yg.from_array(np.asarray(data), origin, PROJ, name)


A = RNG.uniform(0.0, 100.0, (13, 17))
B = RNG.uniform(0.0, 100.0, (13, 17))


def test_spark_matches_local_oracle_simple(spark):
    expr = L(A) * L(B) + 2
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), evaluate_window(expr))


@pytest.mark.parametrize("tile", [1, 2, 5, 16, 64])
def test_tile_size_invariance(spark, monkeypatch, tile):
    """Results must not depend on the tile decomposition (the reference's
    chunk-size invariance tests, test_operators.py:1776-1868)."""
    monkeypatch.setattr(C, "TILE_SIZE", tile)
    expr = yg.where(L(A) > 50, L(A).log(), 0) + L(B)
    np.testing.assert_allclose(expr.to_numpy(spark=spark), evaluate_window(expr))
    assert expr.sum(spark=spark) == pytest.approx(float(evaluate_window(expr).astype(np.float64).sum()))


def test_union_extent_zero_fill(spark):
    # B shifted right+down by 3 pixels: union is 16x20, zero-filled edges.
    b_off = yg.from_array(B, (10.0 + 3 * 0.02, 50.0 - 3 * 0.02), PROJ)
    expr = L(A) + b_off
    got = expr.to_numpy(spark=spark)
    assert got.shape == (16, 20)
    want = np.zeros((16, 20))
    want[:13, :17] += A
    want[3:, 3:] += B
    np.testing.assert_allclose(got, want)


def test_intersection_extent(spark):
    b_off = yg.from_array(B, (10.0 + 3 * 0.02, 50.0 - 3 * 0.02), PROJ)
    expr = L(A) * b_off
    got = expr.to_numpy(spark=spark)
    assert got.shape == (10, 14)
    np.testing.assert_allclose(got, A[3:, 3:] * B[:10, :14])


def test_constant_layers_do_not_blow_up_extent(spark):
    expr = L(A) + yg.constant(5)
    got = expr.to_numpy(spark=spark)
    assert got.shape == A.shape
    np.testing.assert_allclose(got, A + 5)


def test_as_area_crop_and_pad(spark):
    # Crop to an interior area
    crop = yg.Area(10.0 + 2 * 0.02, 50.0 - 2 * 0.02, 10.0 + 8 * 0.02, 50.0 - 7 * 0.02, PROJ)
    got = L(A).as_area(crop).to_numpy(spark=spark)
    np.testing.assert_array_equal(got, A[2:7, 2:8])
    # Pad to a superset area: outside reads as zeros
    pad = yg.Area(10.0 - 2 * 0.02, 50.0 + 2 * 0.02, 10.0 + 19 * 0.02, 50.0 - 15 * 0.02, PROJ)
    got2 = L(A).as_area(pad).to_numpy(spark=spark)
    assert got2.shape == (17, 21)
    np.testing.assert_array_equal(got2[2:15, 2:19], A)
    assert got2[0, 0] == 0 and got2[-1, -1] == 0


def test_conv2d_halo_across_tiles(spark):
    k = np.ones((5, 5), dtype=np.float32)
    expr = L(A).conv2d(k)
    np.testing.assert_allclose(expr.to_numpy(spark=spark), evaluate_window(expr))


def test_cse_shared_subtree(spark):
    base = L(A) * L(B)
    expr = base + base.log()
    np.testing.assert_allclose(expr.to_numpy(spark=spark), evaluate_window(expr))


def test_read_array_subwindow_prunes(spark):
    expr = L(A) + 1
    got = expr.read_array(5, 5, 4, 4, spark=spark)
    np.testing.assert_allclose(got, A[5:9, 5:9] + 1)


def test_misaligned_grids_nudge(spark):
    # Same pitch, origins offset by 0.4999 px: nearest-neighbour alignment.
    off = 0.4999 * 0.02
    b_wob = yg.from_array(B, (10.0 + off, 50.0), PROJ)
    expr = L(A) + b_wob
    got = expr.to_numpy(spark=spark)
    np.testing.assert_allclose(got, evaluate_window(expr))
    assert got.shape == A.shape  # 0.4999 px rounds to same grid cell


def test_sum_min_max_unique(spark):
    data = RNG.integers(0, 5, (9, 9)).astype(np.int32)
    layer = L(data)
    assert layer.sum(spark=spark) == float(data.sum())
    assert layer.min(spark=spark) == float(data.min())
    assert layer.max(spark=spark) == float(data.max())
    values, counts = layer.unique(return_counts=True, spark=spark)
    want_v, want_c = np.unique(data, return_counts=True)
    np.testing.assert_array_equal(values, want_v.astype(np.float64))
    np.testing.assert_array_equal(counts, want_c)


def test_unique_nan_bucket(spark):
    data = A.copy()
    data[0, :5] = np.nan
    values, counts = yg.where(L(data) > 1e9, 0, L(data)).unique(return_counts=True, spark=spark)
    assert np.isnan(values[-1])
    assert counts[-1] == 5


def test_save_and_sum_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out")
    total = (L(A) * 2).save(path, and_sum=True, spark=spark)
    assert total == pytest.approx(float((A * 2).sum()))
    back = yg.read_raster(path)
    np.testing.assert_allclose(back.read_array(0, 0, 17, 13), A * 2)
    # And compute on the read-back layer through Spark.
    assert (back + 0).sum(spark=spark) == pytest.approx(total)


def test_expression_no_projection_raises():
    with pytest.raises((ValueError, AttributeError)):
        (yg.constant(1) + yg.constant(2)).sum()


def test_save_writes_tile_manifest_and_planner_uses_it(tmp_path, spark):
    import json
    import yirgacheffe_spark as yg
    from yirgacheffe_spark.sources import parquet as pqr
    from yirgacheffe_spark.plans import executor as X

    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    data = np.arange(1024 * 600, dtype=np.float64).reshape(600, 1024) % 97
    area = yg.Area(0.0, 0.0, 1024 * 0.01, -600 * 0.01, proj)
    layer = yg.write_array_as_raster_table(str(tmp_path / "m"), data, area)
    # Writer emitted the manifest and its row-group ranges are valid.
    manifest = pqr.read_tile_manifest(str(tmp_path / "m"))
    assert manifest and all(rows for rows in manifest.values())
    # The row-group listing reads the manifest first; its ranges must equal
    # what the footers give a table without one.
    pqr._FOOTER_CACHE.clear()
    f = sorted(manifest)[0]
    stats = pqr._footer_stats(str(tmp_path / "m" / f))
    assert stats == manifest[f]
    # save() also writes one.
    out = str(tmp_path / "out")
    (layer * 2).save(out, spark=spark)
    assert pqr.read_tile_manifest(out) is not None
    got = yg.ParquetRasterLayer(out).sum(spark=spark)
    assert got == float((data * 2).sum())


def test_unique_guard_rejects_unbounded_collect(spark):
    """unique() must refuse to collect beyond max_values distinct values."""
    data = np.arange(17 * 13, dtype=np.float64).reshape(13, 17)
    layer = yg.from_array(data, (0.0, 0.0), PROJ)
    with pytest.raises(ValueError, match="max_values"):
        layer.unique(return_counts=True, spark=spark, max_values=10)
    values, counts = layer.unique(return_counts=True, spark=spark)
    assert len(values) == 17 * 13 and counts.sum() == 17 * 13


def _executed_plan(expr, spark) -> str:
    return expr.to_dataframe(spark=spark)._jdf.queryExecution().executedPlan().toString()


def _assert_tile_grid(expr, spark) -> None:
    """The tile grid: a JVM range of tile ids, no exchange, no file scan."""
    plan = _executed_plan(expr, spark)
    assert "Range" in plan and "Exchange" not in plan and "FileScan" not in plan


def test_conv2d_halo_same_on_both_plans(spark, tmp_path, distributed):
    """A stencil tile reads its halo inside its own task, whether the table
    is stored on the computation grid (tiles of 4) or off it (tiles of 3):
    its tiles and its sum equal the local oracle bit for bit."""
    import numpy as np

    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import kernel

    rng = np.random.default_rng(23)
    data = rng.integers(0, 50, (20, 24)).astype(np.float32)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    area = yg.Area(0.0, 0.0, 0.24, -0.20, proj)
    for tile_size in (4, 3):
        layer = yg.write_array_as_raster_table(
            str(tmp_path / f"conv_src{tile_size}"), data, area, tile_size=tile_size
        )
        expr = layer.conv2d(np.ones((3, 3), dtype=np.float32))
        _assert_tile_grid(expr, spark)
        local = kernel.evaluate_window(expr)
        np.testing.assert_array_equal(distributed(expr), local)
        np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)
        assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))


def test_conv2d_over_widened_window_sees_neighbour_data(spark, tmp_path, distributed):
    """A stencil window widened beyond stored coverage must still read real
    neighbour pixels at the coverage edge: tiles just outside the data read
    their halo across the coverage edge, for tables stored on and off the
    computation grid.  Previously those tiles were dropped entirely and
    the border one tile outside the data evaluated to zeros."""
    import numpy as np

    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import kernel

    rng = np.random.default_rng(5)
    data = rng.integers(1, 9, (8, 8)).astype(np.float32)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    for tile_size in (4, 3):
        layer = yg.write_array_as_raster_table(
            str(tmp_path / f"src{tile_size}"), data, yg.Area(0.0, 0.0, 0.08, -0.08, proj),
            tile_size=tile_size,
        )
        wide = layer.as_area(yg.Area(0.0, 0.0, 0.16, -0.16, proj))
        expr = wide.conv2d(np.ones((3, 3), np.float32))
        _assert_tile_grid(expr, spark)
        local = kernel.evaluate_window(expr)
        assert local[8].sum() > 0  # the border outside coverage is nonzero
        np.testing.assert_array_equal(distributed(expr), local)
        np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)


def test_conv2d_manifest_halo_path_matches_jvm(spark, tmp_path, distributed):
    """A stencil over a table stored on the computation grid, with its tile
    manifest: each task reads its tiles' halo-grown windows itself.
    Results must be bit-identical to the local oracle — including tiles
    outside stored coverage, which must still read their neighbours'
    pixels."""
    import numpy as np

    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import kernel
    from yirgacheffe_spark.sources import parquet as pqr

    rng = np.random.default_rng(31)
    data = rng.integers(1, 50, (20, 24)).astype(np.float32)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    layer = yg.write_array_as_raster_table(
        str(tmp_path / "conv_src"), data, yg.Area(0.0, 0.0, 0.24, -0.20, proj),
        tile_size=4,
    )
    assert pqr.read_tile_manifest(layer.path)
    expr = layer.conv2d(np.ones((3, 3), dtype=np.float32))
    local = kernel.evaluate_window(expr)
    np.testing.assert_array_equal(distributed(expr), local)
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)
    assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))

    # Widened window: the border one tile outside stored coverage reads
    # real neighbour pixels too.
    wide = layer.as_area(yg.Area(0.0, 0.0, 0.32, -0.28, proj))
    wexpr = wide.conv2d(np.ones((3, 3), np.float32))
    wlocal = kernel.evaluate_window(wexpr)
    assert wlocal[20].sum() > 0
    np.testing.assert_array_equal(distributed(wexpr), wlocal)
    np.testing.assert_array_equal(wexpr.to_numpy(spark=spark), wlocal)
    assert wexpr.sum(spark=spark) == float(wlocal.sum(dtype=np.float64))


def test_multi_table_planar_manifest_matches(spark, tmp_path, distributed):
    """Per-band tables on one grid, next to each other in one expression,
    match the local oracle bit for bit: plain, with a stencil on one of
    them over a window widened past the data, and with tables whose
    stored grids differ."""
    import numpy as np

    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import kernel

    rng = np.random.default_rng(32)
    a = rng.integers(0, 90, (16, 20)).astype(np.int16)
    b = rng.integers(0, 900, (16, 20)).astype(np.int16)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    area = yg.Area(0.0, 0.0, 0.20, -0.16, proj)
    la = yg.write_array_as_raster_table(str(tmp_path / "a"), a, area, tile_size=4)
    lb = yg.write_array_as_raster_table(str(tmp_path / "b"), b, area, tile_size=4)
    expr = la * 2 + (lb >= 300) * la
    _assert_tile_grid(expr, spark)

    local = kernel.evaluate_window(expr)
    np.testing.assert_array_equal(distributed(expr), local)
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)
    assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))

    # A stencil on one band table next to a plain one: only the padded leaf
    # reads a halo-grown window, including tiles of a window widened past
    # the data.
    wide = yg.Area(0.0, 0.0, 0.28, -0.24, proj)
    sexpr = (la.as_area(wide).conv2d(np.ones((3, 3), np.float32))
             + lb.as_area(wide))
    slocal = kernel.evaluate_window(sexpr)
    np.testing.assert_array_equal(distributed(sexpr), slocal)
    np.testing.assert_array_equal(sexpr.to_numpy(spark=spark), slocal)

    # Tables whose stored grids differ (different heights).
    c = rng.integers(0, 9, (12, 20)).astype(np.int16)
    lc = yg.write_array_as_raster_table(
        str(tmp_path / "c"), c, yg.Area(0.0, 0.0, 0.20, -0.12, proj), tile_size=4)
    expr2 = la + lc
    local2 = kernel.evaluate_window(expr2)
    np.testing.assert_array_equal(distributed(expr2), local2)
    np.testing.assert_array_equal(expr2.to_numpy(spark=spark), local2)


def test_manifest_plan_scans_a_jvm_range(spark, tmp_path, distributed):
    """The tile grid feeds its kernel from a JVM ``Range`` of tile ids, not
    a parallelized Python RDD (``Scan ExistingRDD``), so each task runs one
    Python worker: a single table, the planar three-table aoh shape, and a
    sparse table."""
    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import kernel

    rng = np.random.default_rng(41)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    area = yg.Area(0.0, 0.0, 0.20, -0.16, proj)
    hab, elev, qty = (
        yg.write_array_as_raster_table(
            str(tmp_path / name), rng.integers(0, hi, (16, 20)).astype(np.int16),
            area, tile_size=4)
        for name, hi in (("hab", 12), ("elev", 1000), ("qty", 50))
    )
    aoh = hab.isin([1.0, 5.0, 7.0, 11.0]) * ((elev >= 100) & (elev <= 800)) * qty
    holes = np.zeros((16, 20))
    holes[5, 7] = 3.0
    yg.from_array(holes, (0.0, 0.0), proj).save(str(tmp_path / "sparse"),
                                                 sparse=True, spark=spark)
    sparse = yg.read_raster(str(tmp_path / "sparse"))
    assert not sparse.dense

    for expr in (qty * 2, aoh, sparse + 1):
        plan = _executed_plan(expr, spark)
        assert "Range" in plan and "ExistingRDD" not in plan, plan
        local = kernel.evaluate_window(expr)
        np.testing.assert_array_equal(distributed(expr), local)
        np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)


def test_planar_manifest_more_groups_than_partitions(spark, tmp_path, distributed,
                                                      grid_tasks):
    """Planar tables with more tile-id runs than range partitions, in a
    window widened past the data: every tile is evaluated once, in runs
    that each read their own row groups, and the tiles outside the data are
    zero-filled."""
    import yirgacheffe_spark as yg
    from yirgacheffe_spark.plans import executor, kernel
    from yirgacheffe_spark.sources import parquet as pqr

    rng = np.random.default_rng(42)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    area = yg.Area(0.0, 0.0, 0.40, -0.64, proj)
    # 64 x 40 px at tile 4: 160 tiles, 10 row groups of up to 16 per table.
    la, lb = (
        yg.write_array_as_raster_table(
            str(tmp_path / name), rng.integers(0, 100, (64, 40)).astype(np.int16),
            area, tile_size=4)
        for name in ("a", "b")
    )
    wide = yg.Area(0.0, 0.0, 0.48, -0.72, proj)
    expr = la.as_area(wide) * 3 + lb.as_area(wide) + 1  # f(0) != 0

    _spark, _root, payload, _bc, df = executor._build(expr, spark)
    n = payload["tiles_y"] * payload["tiles_x"]
    assert payload["run"] == pqr.ROW_GROUP_TILES
    assert df.count() == -(-n // pqr.ROW_GROUP_TILES) > df.rdd.getNumPartitions()
    tasks = grid_tasks(payload, df)
    assert sorted(t for tiles in tasks for t in tiles) == [
        divmod(i, payload["tiles_x"]) for i in range(n)]

    local = kernel.evaluate_window(expr)
    np.testing.assert_array_equal(distributed(expr), local)
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)
    assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))
