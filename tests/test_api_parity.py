"""API-surface parity: multiband output, GeoJSON vector loading, aliases."""

import json

import numpy as np
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.plans.kernel import evaluate_window

PROJ = yg.MapProjection("epsg:4326", 0.02, -0.02)


def test_save_multiband_roundtrip(spark, tmp_path):
    data = np.arange(48, dtype=np.float64).reshape(6, 8)
    a = yg.from_array(data, (0.0, 0.0), PROJ, "a")
    path = str(tmp_path / "mb")
    yg.save_multiband([a * 1, a * 2, a * 3], path, spark=spark)
    for band in (1, 2, 3):
        layer = yg.read_raster(path, band=band)
        np.testing.assert_array_equal(layer.read_array(0, 0, 8, 6), data * band)


def test_save_multiband_rejects_mixed_dtypes(spark, tmp_path):
    data = np.arange(16, dtype=np.float64).reshape(4, 4)
    a = yg.from_array(data, (0.0, 0.0), PROJ)
    with pytest.raises(ValueError):
        yg.save_multiband([a, a.as_type(yg.DataType.Int32)], str(tmp_path / "x"), spark=spark)


def test_geojson_vector_layer(tmp_path):
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"id_no": 3},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0.0, 0.0], [0.2, 0.0], [0.2, -0.2], [0.0, -0.2], [0.0, 0.0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"id_no": 9},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[1.0, 0.0], [1.2, 0.0], [1.2, -0.2], [1.0, -0.2], [1.0, 0.0]]]
                    ],
                },
            },
        ],
    }
    path = tmp_path / "polys.geojson"
    path.write_text(json.dumps(doc))
    layer = yg.VectorLayer.layer_from_file(str(path), PROJ, burn_value="id_no")
    got = evaluate_window(layer)
    assert {3.0, 9.0} <= set(np.unique(got))


def test_reference_aliases():
    assert yg.RasterLayer is yg.ParquetRasterLayer
    assert yg.H3CellLayer is yg.CellLayer


def test_sparse_save_roundtrip(spark, tmp_path, distributed):
    import yirgacheffe_spark.constants as C

    data = np.zeros((12, 12))
    data[0, 0] = 7.0  # only the first 4x4 tile is non-zero
    a = yg.from_array(data, (0.0, 0.0), PROJ)
    path = str(tmp_path / "sparse")
    a.save(path, sparse=True, spark=spark)
    import pyarrow.parquet as pq

    stored = pq.read_table(path)
    assert stored.num_rows == 1  # 8 zero tiles dropped
    back = yg.read_raster(path)
    np.testing.assert_array_equal(back.read_array(0, 0, 12, 12), data)
    # Expressions where f(0) != 0 must still cover the holes (the missing
    # tiles get zero-filled manifest rows).
    np.testing.assert_array_equal(distributed(back + 5), data + 5)
    got = (back + 5).to_numpy(spark=spark)
    np.testing.assert_array_equal(got, data + 5)
    assert (back + 5).sum(spark=spark) == data.sum() + 5 * 144


def test_sparse_plus_dense_two_leaf(spark, tmp_path, distributed):
    # Mixed coverage strategies in one plan: the sparse leaf's holes need the
    # key anti-join, the dense leaf uses closed-form coverage; both must
    # zero-fill identically.
    z = np.zeros((12, 12))
    z[0, 0], z[9, 9] = 3.0, 4.0
    d = np.arange(144, dtype=np.float64).reshape(12, 12)
    sp_layer = yg.from_array(z, (0.0, 0.0), PROJ)
    sp_path = str(tmp_path / "sp")
    sp_layer.save(sp_path, sparse=True, spark=spark)
    dn = yg.from_array(d, (0.0, 0.0), PROJ)
    dn_path = str(tmp_path / "dn")
    dn.save(dn_path, spark=spark)
    expr = yg.read_raster(sp_path) + yg.read_raster(dn_path) * 2
    np.testing.assert_array_equal(distributed(expr), z + d * 2)
    got = expr.to_numpy(spark=spark)
    np.testing.assert_array_equal(got, z + d * 2)
    assert expr.sum(spark=spark) == (z + d * 2).sum()


def test_interleaved_multiband_single_scan(spark, tmp_path, distributed):
    from yirgacheffe_spark.sources.parquet import write_multiband_interleaved
    from yirgacheffe_spark.plans.kernel import evaluate_window

    rng = np.random.default_rng(42)
    a = rng.integers(0, 50, (13, 9)).astype(np.float64)
    b = rng.integers(0, 50, (13, 9)).astype(np.float64)
    c = rng.integers(0, 50, (13, 9)).astype(np.float64)
    area = yg.Area(0.0, 0.0, 9 * 0.02, -13 * 0.02, PROJ)
    layers = write_multiband_interleaved(
        str(tmp_path / "mb"), {1: a, 2: b, 3: c}, area, tile_size=4
    )
    expr = layers[1].isin(list(range(0, 25))) * (layers[2] >= 10) * layers[3]
    got = expr.to_numpy(spark=spark)
    np.testing.assert_array_equal(got, evaluate_window(expr))
    np.testing.assert_array_equal(distributed(expr), got)
    want = np.isin(a, list(range(0, 25))) * (b >= 10) * c
    np.testing.assert_array_equal(got, want)
    assert expr.sum(spark=spark) == float(want.sum())
    # Plan shape: the single-scan multiband path must not shuffle payloads.
    plan = expr.to_dataframe(spark=spark)._jdf.queryExecution().executedPlan().toString()
    payload_side = plan.split("Union")[0]  # the piece-rows branch
    assert "Exchange hashpartitioning" not in payload_side
    # A stencil over one band of the interleaved table: its halo strips are
    # cut from row groups that also hold the other bands' tiles.
    conv = layers[2].conv2d(np.ones((3, 3), dtype=np.float32))
    local = evaluate_window(conv)
    np.testing.assert_array_equal(distributed(conv), local)
    np.testing.assert_array_equal(conv.to_numpy(spark=spark), local)
    assert conv.sum(spark=spark) == float(local.sum(dtype=np.float64))


@pytest.mark.parametrize("stencil", [False, True])
def test_sparse_single_band_takes_manifest_plan(spark, tmp_path, stencil, distributed):
    """A sparse table read alone takes the manifest plan: tile presence comes
    from the pruned row groups' key columns and every absent tile of the
    box gets a zero-filled manifest row — so f(0) != 0 still covers the
    holes, and a stencil still sees its neighbours' pixels at their edge."""
    from yirgacheffe_spark.plans import executor

    data = np.zeros((16, 12))
    data[0:3, 0:3] = 7.0
    data[9, 5] = 2.0
    data[13, 11] = 4.0
    path = str(tmp_path / "sparse")
    yg.from_array(data, (0.0, 0.0), PROJ).save(path, sparse=True, spark=spark)
    back = yg.read_raster(path)
    assert not back.dense
    expr = back + 5
    if stencil:
        expr = expr.conv2d(np.ones((3, 3), dtype=np.float32))

    _spark, _root, payload, _bc, _df = executor._build(expr, spark)
    assert "manifest" in payload
    local = evaluate_window(expr)
    np.testing.assert_array_equal(distributed(expr), local)
    np.testing.assert_array_equal(expr.to_numpy(spark=spark), local)
    assert expr.sum(spark=spark) == float(local.sum(dtype=np.float64))


def test_show_writes_valid_png(spark, tmp_path):
    """show(path=...) renders the computation as a spec-valid grayscale PNG
    (signature, IHDR dims, zlib IDAT round-trips to the stretched pixels)."""
    import struct
    import zlib

    data = np.arange(35, dtype=np.float64).reshape(5, 7)
    layer = yg.from_array(data, (0.0, 0.0), yg.MapProjection("epsg:4326", 0.02, -0.02))
    out = str(tmp_path / "v.png")
    (layer * 2).show(path=out, spark=spark)
    blob = open(out, "rb").read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert blob[12:16] == b"IHDR"
    w, h = struct.unpack(">II", blob[16:24])
    assert (w, h) == (7, 5)
    idat_start = blob.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", blob[idat_start - 8: idat_start - 4])[0]
    raw = zlib.decompress(blob[idat_start: idat_start + idat_len])
    rows = [raw[r * 8 + 1: r * 8 + 8] for r in range(5)]  # strip filter bytes
    img = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(5, 7)
    want = np.clip((data * 2 - 0.0) * (255.0 / (68.0 - 0.0)), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(img, want)


def test_every_package_module_imports():
    """Import health: every module in the package loads cleanly (catches
    syntax errors and broken imports in rarely-touched corners)."""
    import importlib
    import pkgutil

    import yirgacheffe_spark

    failures = []
    for mod in pkgutil.walk_packages(yirgacheffe_spark.__path__,
                                     prefix="yirgacheffe_spark."):
        try:
            importlib.import_module(mod.name)
        except Exception as exc:  # noqa: BLE001
            failures.append((mod.name, repr(exc)))
    assert not failures, failures
