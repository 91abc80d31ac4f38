"""Pure-stdlib GeoTIFF bridge: writer/reader round trips, windowed reads,
LZW decode, georeferencing tags, nodata, and engine integration."""

import struct
import zlib

import numpy as np
import pytest

import yirgacheffe_spark as yg
from yirgacheffe_spark.sources import geotiff as G

PROJ = yg.MapProjection("epsg:4326", 0.02, -0.02)
RNG = np.random.default_rng(17)


def _area(w, h, left=10.0, top=50.0):
    return yg.Area(left, top, left + w * 0.02, top - h * 0.02, PROJ)


@pytest.mark.parametrize("dtype", [np.uint8, np.int16, np.uint16, np.int32,
                                   np.float32, np.float64])
def test_roundtrip_dtypes(tmp_path, dtype):
    data = RNG.integers(0, 100, (70, 90)).astype(dtype)
    path = str(tmp_path / "r.tif")
    G.write_geotiff(path, data, _area(90, 70))
    layer = yg.read_raster(path)
    assert layer.datatype.to_numpy() == dtype
    np.testing.assert_array_equal(layer.read_array(0, 0, 90, 70), data)


def test_georeferencing_roundtrip(tmp_path):
    data = np.ones((40, 60), dtype=np.uint8)
    path = str(tmp_path / "g.tif")
    G.write_geotiff(path, data, _area(60, 40, left=-3.0, top=12.0))
    layer = yg.read_raster(path)
    a = layer.area
    assert a.left == -3.0 and a.top == 12.0
    assert layer.projection.crs.code == "epsg:4326"
    assert abs(layer.projection.xstep - 0.02) < 1e-12


def test_projected_epsg_key(tmp_path):
    utm = yg.MapProjection("epsg:32631", 100.0, -100.0)
    area = yg.Area(500000.0, 5000000.0, 503200.0, 4996800.0, utm)
    path = str(tmp_path / "u.tif")
    G.write_geotiff(path, np.zeros((32, 32), np.int16), area)
    layer = yg.read_raster(path)
    assert layer.projection.crs.code == "epsg:32631"


def test_windowed_reads_match_full(tmp_path):
    # > one 256-tile in each dimension exercises multi-block assembly.
    data = RNG.integers(0, 9999, (300, 520)).astype(np.int32)
    path = str(tmp_path / "w.tif")
    G.write_geotiff(path, data, _area(520, 300))
    layer = yg.read_raster(path)
    whole = layer.read_array(0, 0, 520, 300)
    np.testing.assert_array_equal(whole, data)
    for x0, y0, w, h in [(0, 0, 10, 10), (250, 120, 200, 100), (500, 290, 20, 10)]:
        np.testing.assert_array_equal(
            layer.read_array(x0, y0, w, h), data[y0:y0 + h, x0:x0 + w]
        )


def test_nodata_to_nan(tmp_path):
    data = np.array([[1.0, -9999.0], [3.0, 4.0]], dtype=np.float32)
    path = str(tmp_path / "n.tif")
    G.write_geotiff(path, data, _area(2, 2), nodata=-9999.0)
    layer = yg.read_raster(path)
    assert layer.nodata == -9999.0
    got = layer.read_array(0, 0, 2, 2)
    assert np.isnan(got[0, 1]) and got[1, 1] == 4.0
    raw = yg.read_raster(path, ignore_nodata=True).read_array(0, 0, 2, 2)
    assert raw[0, 1] == -9999.0


def test_engine_expression_over_geotiff(tmp_path, spark):
    """A GeoTIFF leaf flows through the tiled Spark engine like any layer."""
    data = RNG.integers(0, 50, (40, 48)).astype(np.float64)
    path = str(tmp_path / "e.tif")
    G.write_geotiff(path, data, _area(48, 40))
    layer = yg.read_raster(path)
    total = (layer * 2 + 1).sum(spark=spark)
    assert total == pytest.approx(float((data * 2 + 1).sum()))


def test_to_geotiff_sink_roundtrip(tmp_path, spark):
    data = RNG.integers(0, 50, (30, 30)).astype(np.float64)
    src = yg.from_array(data, (10.0, 50.0), PROJ)
    path = str(tmp_path / "s.tif")
    yg.to_geotiff(src * 3, path, spark=spark)
    back = yg.read_raster(path)
    np.testing.assert_array_equal(back.read_array(0, 0, 30, 30), data * 3)


def _lzw_encode(data: bytes) -> bytes:
    """Reference TIFF-LZW encoder (tests only): MSB-first, early change."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitbuf, bitcnt = 0, 0

    def emit(code, nbits):
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << nbits) | code
        bitcnt += nbits
        while bitcnt >= 8:
            bitcnt -= 8
            out.append((bitbuf >> bitcnt) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    nbits = 9
    emit(CLEAR, nbits)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            emit(table[w], nbits)
            table[wc] = next_code
            next_code += 1
            # Spec early change: the ENCODER widens at NextCode 511/1023/
            # 2047; the decoder (one table entry behind) at 510/1022/2046.
            if next_code == (1 << nbits) - 1 and nbits < 12:
                nbits += 1
            elif next_code == 4094:
                emit(CLEAR, nbits)
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                nbits = 9
            w = bytes([ch])
    if w:
        emit(table[w], nbits)
    emit(EOI, nbits)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def test_lzw_decode_roundtrip():
    rng = np.random.default_rng(5)
    for n in (1, 7, 256, 5000, 40000):
        raw = rng.integers(0, 8, n, dtype=np.uint8).tobytes()  # repetitive
        assert G._lzw_decode(_lzw_encode(raw)) == raw  # noqa: SLF001


def test_read_lzw_compressed_file(tmp_path):
    """Hand-build a minimal strip-organised LZW TIFF (the GDAL default
    layout for COMPRESS=LZW) and read it back."""
    data = np.tile(np.arange(16, dtype=np.uint8), (8, 4))  # (8, 64)
    payload = _lzw_encode(data.tobytes())
    entries = [
        (256, 3, 1, [64]), (257, 3, 1, [8]), (258, 3, 1, [8]),
        (259, 3, 1, [5]), (262, 3, 1, [1]),
        (273, 4, 1, None), (277, 3, 1, [1]), (278, 3, 1, [8]),
        (279, 4, 1, [len(payload)]), (284, 3, 1, [1]), (339, 3, 1, [1]),
        (33550, 12, 3, [0.02, 0.02, 0.0]),
        (33922, 12, 6, [0.0, 0.0, 0.0, 10.0, 50.0, 0.0]),
    ]
    ifd_size = 2 + len(entries) * 12 + 4
    pos = 8 + ifd_size
    overflow = {}
    for tag, ftype, count, values in entries:
        size = {3: 2, 4: 4, 12: 8}[ftype] * count
        if size > 4:
            overflow[tag] = pos
            pos += size
    strip_off = pos
    path = str(tmp_path / "lzw.tif")
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HI", 42, 8))
        f.write(struct.pack("<H", len(entries)))
        for tag, ftype, count, values in entries:
            if tag == 273:
                values = [strip_off]
            code = {3: "H", 4: "I", 12: "d"}[ftype]
            blob = struct.pack("<" + code * count, *values)
            f.write(struct.pack("<HHI", tag, ftype, count))
            if len(blob) <= 4:
                f.write(blob.ljust(4, b"\0"))
            else:
                f.write(struct.pack("<I", overflow[tag]))
        f.write(struct.pack("<I", 0))
        for tag, ftype, count, values in entries:
            if tag in overflow:
                code = {3: "H", 4: "I", 12: "d"}[ftype]
                f.write(struct.pack("<" + code * count, *values))
        f.write(payload)
    layer = yg.read_raster(path, crs="epsg:4326")
    np.testing.assert_array_equal(layer.read_array(0, 0, 64, 8), data)


def test_mixed_format_mosaic(tmp_path, spark):
    """GroupLayer mosaics a GeoTIFF and a parquet raster table together."""
    top = RNG.integers(0, 9, (10, 20)).astype(np.float64)
    bottom = RNG.integers(10, 19, (10, 20)).astype(np.float64)
    tif = str(tmp_path / "top.tif")
    G.write_geotiff(tif, top, _area(20, 10, left=0.0, top=0.0))
    pq = str(tmp_path / "bottom_pq")
    yg.write_array_as_raster_table(
        pq, bottom, yg.Area(0.0, -10 * 0.02, 20 * 0.02, -20 * 0.02, PROJ)
    )
    mosaic = yg.read_rasters([tif, pq])
    got = (mosaic + 0).sum(spark=spark)
    assert got == pytest.approx(float(top.sum() + bottom.sum()))


def _write_multiband_tiff(path, bands, planar, area):
    """Minimal multi-band strip TIFF writer (tests only): chunky (planar=1,
    pixel-interleaved) or planar (=2, per-band strips), uncompressed."""
    n_bands = len(bands)
    h, w = bands[0].shape
    dt = bands[0].dtype
    fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    if planar == 1:
        payloads = [np.stack(bands, axis=2).astype(dt.newbyteorder("<")).tobytes()]
    else:
        payloads = [b.astype(dt.newbyteorder("<")).tobytes() for b in bands]
    entries = [
        (256, 3, 1, [w]), (257, 3, 1, [h]),
        (258, 3, n_bands, [dt.itemsize * 8] * n_bands),
        (259, 3, 1, [1]), (262, 3, 1, [1]),
        (273, 4, len(payloads), None),
        (277, 3, 1, [n_bands]), (278, 3, 1, [h]),
        (279, 4, len(payloads), [len(b) for b in payloads]),
        (284, 3, 1, [planar]), (339, 3, n_bands, [fmt] * n_bands),
        (33550, 12, 3, [0.02, 0.02, 0.0]),
        (33922, 12, 6, [0.0, 0.0, 0.0, area.left, area.top, 0.0]),
    ]
    ifd_size = 2 + len(entries) * 12 + 4
    pos = 8 + ifd_size
    overflow = {}
    for tag, ftype, count, values in entries:
        size = {3: 2, 4: 4, 12: 8}[ftype] * count
        if size > 4:
            overflow[tag] = pos
            pos += size
    strip_offs = []
    for b in payloads:
        strip_offs.append(pos)
        pos += len(b)
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HI", 42, 8))
        f.write(struct.pack("<H", len(entries)))
        for tag, ftype, count, values in entries:
            if tag == 273:
                values = strip_offs
            code = {3: "H", 4: "I", 12: "d"}[ftype]
            blob = struct.pack("<" + code * count, *values)
            f.write(struct.pack("<HHI", tag, ftype, count))
            if len(blob) <= 4:
                f.write(blob.ljust(4, b"\0"))
            else:
                f.write(struct.pack("<I", overflow[tag]))
        f.write(struct.pack("<I", 0))
        for tag, ftype, count, values in entries:
            if tag in overflow:
                if tag == 273:
                    values = strip_offs
                code = {3: "H", 4: "I", 12: "d"}[ftype]
                f.write(struct.pack("<" + code * count, *values))
        for b in payloads:
            f.write(b)


@pytest.mark.parametrize("planar", [1, 2])
def test_multiband_read(tmp_path, planar):
    bands = [RNG.integers(0, 99, (6, 9)).astype(np.int16) for _ in range(3)]
    path = str(tmp_path / f"mb{planar}.tif")
    _write_multiband_tiff(path, bands, planar, _area(9, 6))
    for b in range(3):
        layer = yg.read_raster(path, band=b + 1, crs="epsg:4326")
        np.testing.assert_array_equal(layer.read_array(0, 0, 9, 6), bands[b])
    with pytest.raises(ValueError, match="band"):
        yg.read_raster(path, band=4, crs="epsg:4326")


def test_read_bigtiff(tmp_path):
    """Hand-build a minimal BigTIFF (magic 43, 8-byte offsets, one strip,
    uncompressed) and read it back — covers the 64-bit header branch."""
    data = np.arange(48, dtype=np.uint8).reshape(4, 12)
    payload = data.tobytes()
    entries = [  # (tag, type, count, values); type 16 = LONG8
        (256, 3, 1, [12]), (257, 3, 1, [4]), (258, 3, 1, [8]),
        (259, 3, 1, [1]), (262, 3, 1, [1]),
        (273, 16, 1, None), (277, 3, 1, [1]), (278, 3, 1, [4]),
        (279, 16, 1, [len(payload)]), (284, 3, 1, [1]), (339, 3, 1, [1]),
        (33550, 12, 3, [0.02, 0.02, 0.0]),
        (33922, 12, 6, [0.0, 0.0, 0.0, 10.0, 50.0, 0.0]),
    ]
    # BigTIFF IFD: 8-byte count + 20-byte entries + 8-byte next pointer.
    ifd_off = 16
    ifd_size = 8 + len(entries) * 20 + 8
    pos = ifd_off + ifd_size
    overflow = {}
    for tag, ftype, count, values in entries:
        size = {3: 2, 12: 8, 16: 8}[ftype] * count
        if size > 8:
            overflow[tag] = pos
            pos += size
    strip_off = pos
    path = str(tmp_path / "big.tif")
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HHHQ", 43, 8, 0, ifd_off))
        f.write(struct.pack("<Q", len(entries)))
        for tag, ftype, count, values in entries:
            if tag == 273:
                values = [strip_off]
            code = {3: "H", 12: "d", 16: "Q"}[ftype]
            blob = struct.pack("<" + code * count, *values)
            f.write(struct.pack("<HHQ", tag, ftype, count))
            if len(blob) <= 8:
                f.write(blob.ljust(8, b"\0"))
            else:
                f.write(struct.pack("<Q", overflow[tag]))
        f.write(struct.pack("<Q", 0))
        for tag, ftype, count, values in entries:
            if tag in overflow:
                code = {3: "H", 12: "d", 16: "Q"}[ftype]
                f.write(struct.pack("<" + code * count, *values))
        f.write(payload)
    layer = yg.read_raster(path, crs="epsg:4326")
    np.testing.assert_array_equal(layer.read_array(0, 0, 12, 4), data)
    assert layer.area.left == 10.0 and layer.area.top == 50.0


def test_to_geotiff_streams_byte_identical(tmp_path, spark):
    """The streaming sink (the tile grid's partitions, read in turn by
    toLocalIterator -> TiffStreamWriter with patched offset arrays)
    produces byte-identical output to a fully-buffered write of the same
    pixels.  600x520 spans a 3x3 file-tile grid assembled from 4-row engine
    strips, so the rolling buffer shifts many times and never holds the
    raster."""
    h, w = 600, 520
    data = (RNG.integers(0, 1000, (h, w))).astype(np.int32)
    src = yg.from_array(data, (10.0, 50.0), PROJ)
    p_stream = str(tmp_path / "stream.tif")
    yg.to_geotiff(src, p_stream, spark=spark)

    p_buf = str(tmp_path / "buffered.tif")
    G.write_geotiff(p_buf, data, _area(w, h))
    with open(p_stream, "rb") as f1, open(p_buf, "rb") as f2:
        assert f1.read() == f2.read()

    # An arithmetic expression streams too (engine promotion widens the
    # dtype, so values rather than bytes are compared here).
    p_expr = str(tmp_path / "expr.tif")
    yg.to_geotiff(src + 1, p_expr, spark=spark)
    got = yg.read_raster(p_expr).read_array(0, 0, w, h)
    np.testing.assert_array_equal(got, (data + 1).astype(np.int64))


@pytest.mark.parametrize("table", [False, True])
def test_to_geotiff_reads_the_tile_grid_once(tmp_path, spark, table):
    """``to_geotiff`` evaluates each tile once: it pulls the tile grid's
    partitions, one per engine tile row at most, in turn, each in one job
    of one stage (no sampling job, no shuffle-map stage), and writes the
    bytes of a buffered write.  An in-memory layer runs in runs of one tile
    (10 rows of 6 tiles: 10 partitions); a parquet table runs in runs of
    16 that span tile rows (42 tiles: 3 runs over 3 partitions)."""
    from yirgacheffe_spark import constants
    from yirgacheffe_spark.plans import executor

    h, w = (40, 24) if not table else (24, 28)
    data = RNG.integers(0, 1000, (h, w)).astype(np.int16)
    if table:
        src = yg.write_array_as_raster_table(str(tmp_path / "t"), data, _area(w, h))
    else:
        src = yg.from_array(data, (10.0, 50.0), PROJ)
    rows = -(-h // constants.TILE_SIZE)
    _s, _root, payload, _bc, grid = executor._build(src, spark, rows)
    parts = grid.rdd.getNumPartitions()
    assert parts == min(-(-payload["tiles_y"] * payload["tiles_x"] // payload["run"]), rows)
    assert parts > 1

    sc = spark.sparkContext
    group = f"to-geotiff-grid-{table}"
    sc.setJobGroup(group, group)
    try:
        yg.to_geotiff(src, str(tmp_path / "s.tif"), spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert sorted(len(tracker.getJobInfo(j).stageIds) for j in jobs) == [1] * parts

    G.write_geotiff(str(tmp_path / "b.tif"), data, _area(w, h))
    assert (tmp_path / "s.tif").read_bytes() == (tmp_path / "b.tif").read_bytes()


def test_stream_writer_single_tile_inline_patch(tmp_path):
    """A single-tile file keeps its offset/count arrays inline in the IFD
    value slots — the patch must land there, not in an overflow region."""
    data = RNG.integers(0, 9, (40, 30)).astype(np.uint8)
    path = str(tmp_path / "one.tif")
    wtr = G.TiffStreamWriter(path, 30, 40, data.dtype, _area(30, 40))
    wtr.write_tile(data)
    wtr.close()
    got = yg.read_raster(path).read_array(0, 0, 30, 40)
    np.testing.assert_array_equal(got, data)


def test_to_geotiff_multiband_planar_roundtrip(tmp_path, spark):
    """A list of expressions writes as bands 1..N of ONE planar GeoTIFF
    (PlanarConfiguration=2, band-major tile planes) that the reader opens
    band by band — closing the reference's multiband file-output parity
    (_core.py:314-414)."""
    h, w = 70, 90
    chans = [RNG.integers(0, 500, (h, w)).astype(np.int32) for _ in range(3)]
    layers = [yg.from_array(c, (10.0, 50.0), PROJ) for c in chans]
    path = str(tmp_path / "mb.tif")
    yg.to_geotiff(layers, path, spark=spark)
    for b, want in enumerate(chans, start=1):
        got = yg.read_raster(path, band=b).read_array(0, 0, w, h)
        np.testing.assert_array_equal(got, want, err_msg=f"band {b}")
    # Single-band writes stay bit-stable: n_bands=1 keeps the old layout.
    p1 = str(tmp_path / "single.tif")
    yg.to_geotiff(layers[0], p1, spark=spark)
    p2 = str(tmp_path / "single2.tif")
    G.write_geotiff(p2, chans[0], _area(w, h))
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()


def test_to_geotiff_multiband_mismatched_bands_raise(tmp_path, spark):
    a = yg.from_array(np.zeros((4, 4), np.int16), (0.0, 0.0), PROJ)
    b = yg.from_array(np.zeros((4, 5), np.int16), (0.0, 0.0), PROJ)
    with pytest.raises(ValueError, match="extent"):
        yg.to_geotiff([a, b], str(tmp_path / "x.tif"), spark=spark)
    c = yg.from_array(np.zeros((4, 4), np.float32), (0.0, 0.0), PROJ)
    with pytest.raises(ValueError, match="datatype"):
        yg.to_geotiff([a, c], str(tmp_path / "y.tif"), spark=spark)


def test_bigtiff_write_roundtrip(tmp_path):
    """BigTIFF writer branch (version 43, 20-byte entries, LONG8 offset
    arrays): the existing BigTIFF reader round-trips it exactly."""
    data = RNG.integers(0, 60000, (300, 520)).astype(np.uint16)
    path = str(tmp_path / "big.tif")
    G.write_geotiff(path, data, _area(520, 300), nodata=7.0, bigtiff=True)
    with open(path, "rb") as f:
        assert struct.unpack("<H", f.read(4)[2:4])[0] == 43
    layer = yg.read_raster(path)
    assert layer.nodata == 7.0
    got = yg.read_raster(path, ignore_nodata=True).read_array(0, 0, 520, 300)
    np.testing.assert_array_equal(got, data)


def test_classic_overflow_raises_with_guidance(tmp_path):
    wtr = G.TiffStreamWriter(str(tmp_path / "x.tif"), 256, 256, np.uint8,
                             _area(256, 256))
    wtr._f.seek((1 << 32) - 10)  # simulate 4 GiB of prior payloads
    wtr._f.write(b"\0")
    with pytest.raises(ValueError, match="bigtiff=True"):
        wtr.write_tile(RNG.integers(0, 255, (256, 256)).astype(np.uint8))


def test_stream_writer_abort_removes_part(tmp_path):
    wtr = G.TiffStreamWriter(str(tmp_path / "a.tif"), 256, 256, np.uint8,
                             _area(256, 256))
    wtr.write_tile(RNG.integers(0, 255, (256, 256)).astype(np.uint8))
    assert (tmp_path / "a.tif.part").exists()
    wtr.abort()
    wtr.abort()  # idempotent
    assert not (tmp_path / "a.tif.part").exists()
    assert not (tmp_path / "a.tif").exists()


def test_to_geotiff_failure_leaves_no_part(tmp_path, spark, monkeypatch):
    """A mid-gather failure must propagate AND clean up the scratch file —
    a stale .part next to the target would persist forever (close()'s
    atomic rename never sees it)."""
    import yirgacheffe_spark as _pkg

    def boom(*a, **k):
        raise RuntimeError("simulated task failure")

    monkeypatch.setattr(_pkg, "_stream_band_tiles", boom)
    lay = yg.from_array(np.ones((8, 8), np.float32), (0.0, 0.0), PROJ)
    with pytest.raises(RuntimeError, match="simulated"):
        yg.to_geotiff(lay, str(tmp_path / "f.tif"), spark=spark)
    assert not (tmp_path / "f.tif.part").exists()
    assert not (tmp_path / "f.tif").exists()


def test_to_geotiff_hopeless_classic_fails_at_plan_time(spark, tmp_path):
    """Explicit bigtiff=False with >32 GiB of pixels must refuse before
    streaming anything (the 4 GiB offset ceiling is then a certainty even
    at generous deflate ratios).  A world-width uniform-area layer gives a
    huge window with no materialised pixels."""
    proj = yg.MapProjection("epsg:4326", 4e-6, -4e-6)
    area = yg.Area(left=0.0, top=0.0, right=0.004, bottom=-0.004,
                   projection=proj)
    wide = yg.read_narrow_raster(np.ones(1000, np.float64), area)
    assert wide.window.xsize * wide.window.ysize * 8 > 8 * (4 << 30)
    with pytest.raises(ValueError, match="bigtiff"):
        yg.to_geotiff(wide, str(tmp_path / "never.tif"), bigtiff=False,
                      spark=spark)
    assert not (tmp_path / "never.tif.part").exists()


class TestLzwAndSparseWrites:
    """LZW write path (mirror of the reader's early-change decoder) and
    sparse tile skipping (GDAL SPARSE_OK layout: offset AND count 0),
    reference parity with `to_geotiff(sparse=)`
    (`_operators/__init__.py:1412-1416`)."""

    def test_lzw_write_roundtrip(self, tmp_path):
        data = RNG.integers(0, 60000, (300, 520)).astype(np.uint16)
        path = str(tmp_path / "lzw.tif")
        G.write_geotiff(path, data, _area(520, 300), compression="lzw")
        from yirgacheffe_spark.sources.geotiff import _read_tiff_header
        assert _read_tiff_header(path).compression == 5
        got = yg.read_raster(path).read_array(0, 0, 520, 300)
        np.testing.assert_array_equal(got, data)

    def test_uncompressed_write_roundtrip(self, tmp_path):
        data = RNG.normal(size=(100, 130)).astype(np.float32)
        path = str(tmp_path / "raw.tif")
        G.write_geotiff(path, data, _area(130, 100), compression="none")
        got = yg.read_raster(path).read_array(0, 0, 130, 100)
        np.testing.assert_array_equal(got, data)

    def test_sparse_layout_and_roundtrip(self, tmp_path):
        """Half the tiles are pure nodata: the sparse file must record
        offset 0 AND byte-count 0 for exactly those tiles (the byte layout
        GDAL writes with SPARSE_OK=YES), be smaller than the dense file,
        and read back identically."""
        from yirgacheffe_spark.sources.geotiff import _read_tiff_header

        data = np.full((512, 512), -9999.0, dtype=np.float32)
        data[:256, :256] = RNG.normal(size=(256, 256)).astype(np.float32)
        dense, sp = str(tmp_path / "d.tif"), str(tmp_path / "s.tif")
        G.write_geotiff(dense, data, _area(512, 512), nodata=-9999.0)
        G.write_geotiff(sp, data, _area(512, 512), nodata=-9999.0, sparse=True)
        p = _read_tiff_header(sp)
        empties = [i for i in range(4) if p.offsets[i] == 0]
        assert empties and all(p.counts[i] == 0 for i in empties)
        assert len(empties) == 3  # only the top-left 256x256 tile has data
        import os as _os
        assert _os.path.getsize(sp) < _os.path.getsize(dense)
        got = yg.read_raster(sp, ignore_nodata=True).read_array(0, 0, 512, 512)
        np.testing.assert_array_equal(got, data)
        # and through the nodata->nan mapping both files agree
        a = yg.read_raster(sp).read_array(0, 0, 512, 512)
        b = yg.read_raster(dense).read_array(0, 0, 512, 512)
        np.testing.assert_array_equal(np.isnan(a), np.isnan(b))
        np.testing.assert_array_equal(a[~np.isnan(a)], b[~np.isnan(b)])

    def test_sparse_requires_nodata(self, tmp_path):
        with pytest.raises(ValueError, match="[Nn]odata"):
            G.write_geotiff(str(tmp_path / "x.tif"),
                            np.zeros((8, 8), np.float32), _area(8, 8),
                            sparse=True)

    def test_sparse_lzw_combination(self, tmp_path):
        data = np.zeros((300, 300), dtype=np.int32)
        data[10:40, 10:40] = RNG.integers(1, 9, (30, 30)).astype(np.int32)
        path = str(tmp_path / "sl.tif")
        G.write_geotiff(path, data, _area(300, 300), nodata=0.0,
                        sparse=True, compression="lzw")
        got = yg.read_raster(path, ignore_nodata=True).read_array(0, 0, 300, 300)
        np.testing.assert_array_equal(got, data)

    def test_to_geotiff_sparse_end_to_end(self, tmp_path, spark):
        """Engine expression -> streamed sparse GeoTIFF: all-nodata file
        tiles are skipped; values round-trip through the engine read."""
        from yirgacheffe_spark.sources.geotiff import _read_tiff_header

        data = np.zeros((400, 600), dtype=np.float32)
        data[:100, :150] = RNG.normal(size=(100, 150)).astype(np.float32)
        lay = yg.from_array(data, (0.0, 0.0), PROJ)
        path = str(tmp_path / "e2e.tif")
        yg.to_geotiff(lay + 0, path, nodata=0.0, sparse=True, spark=spark)
        p = _read_tiff_header(path)
        assert sum(1 for o in p.offsets if o == 0) >= 3
        got = yg.read_raster(path, ignore_nodata=True).read_array(0, 0, 600, 400)
        np.testing.assert_array_equal(got, data)

    def test_bad_compression_rejected(self, tmp_path):
        with pytest.raises(ValueError, match="compression"):
            G.write_geotiff(str(tmp_path / "x.tif"),
                            np.zeros((8, 8), np.float32), _area(8, 8),
                            compression="jpeg")
