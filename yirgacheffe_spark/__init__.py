"""yirgacheffe_spark — a PySpark-native declarative geospatial layer algebra.

A from-scratch rebuild of the query semantics of quantifyearth/yirgacheffe
(lazy raster/vector layer expressions, union/intersection extent inference,
exact pixel-grid alignment) as a distributed tiling + spatial-join engine:
expressions compile to tile-partitioned DataFrame plans evaluated by fused
Arrow-vectorized numpy kernels, and the same cell-index machinery powers
point-in-polygon / kNN joins over web-scale page tables.

Public API mirrors the reference's ``yirgacheffe`` module surface
(``_core.py``): ``read_raster``/``read_rasters``/``read_shape``/``constant``/
``from_array``/``area_raster``/``h3_tile`` plus the operator functions.
"""

from __future__ import annotations

import os

import numpy as np

from .dtypes import DataType
from .grid import CRS, Area, MapProjection, Window
from .operators import LayerOperation, WindowOp, Op
from .operators.functions import (
    where,
    minimum,
    maximum,
    sum,  # pylint: disable=W0622
    any,  # pylint: disable=W0622
    all,  # pylint: disable=W0622
    clip,
    log,
    log2,
    log10,
    exp,
    exp2,
    nan_to_num,
    isin,
    abs,  # pylint: disable=W0622
    floor,
    round,  # pylint: disable=W0622
    ceil,
    logical_and,
    logical_or,
    logical_xor,
    logical_not,
)
from .sources import (
    ArrayLayer,
    ReprojectedLayer,
    AreaPerPixelLayer,
    CellLayer,
    ConstantLayer,
    GroupLayer,
    Layer,
    ParquetRasterLayer,
    TiledGroupLayer,
    UniformAreaLayer,
    VectorLayer,
)
from .sources.parquet import write_array_as_raster_table
from .sources.vector import load_geojson
from .plans.executor import save_multiband, zonal_stats, zonal_sum

# Familiar aliases for users coming from the reference API.

__version__ = "0.1.0"

# Reference-API class aliases (yirgacheffe names -> this engine's classes).
RasterLayer = ParquetRasterLayer
H3CellLayer = CellLayer


# -- reference-parity entry points (yirgacheffe/_core.py) --------------------

def read_raster(path: str, band: int = 1, ignore_nodata: bool = False,
                crs: "str | None" = None):
    """Open a raster as a layer: a parquet tile table (this engine's native
    format), or a GeoTIFF file (the reference's native format, read with the
    pure-stdlib bridge — reference ``_layers/rasters.py:173-370``).

    ``crs`` overrides the file's CRS — required for GeoTIFFs that carry no
    EPSG geokey (the engine refuses to guess a projection silently)."""
    if os.path.isfile(path):
        with open(path, "rb") as f:
            magic = f.read(4)
        if magic[:2] in (b"II", b"MM"):
            from .sources.geotiff import GeoTIFFLayer  # pylint: disable=C0415

            return GeoTIFFLayer(path, band=band, ignore_nodata=ignore_nodata,
                                crs=crs)
    return ParquetRasterLayer(path, band=band, ignore_nodata=ignore_nodata)


def to_geotiff(tree, path: str, nodata: float | None = None, spark=None,
               bigtiff: "bool | None" = None, compression: str = "deflate",
               sparse: bool = False) -> None:
    """Materialise an expression/layer (or a LIST of them, as bands 1..N of
    a planar multiband file) as a tiled compressed GeoTIFF.

    ``compression``: ``"deflate"`` (default, zlib/C speed), ``"lzw"``
    (TIFF early-change variant, pure-Python encoder — for toolchains that
    require it), or ``"none"``.  ``sparse=True`` skips blocks that are
    entirely ``nodata`` (which must then be given), writing offset AND
    byte-count 0 per the TIFF convention GDAL's SPARSE_OK extension uses —
    reference parity with ``to_geotiff(sparse=)``
    (``_operators/__init__.py:1412-1416``); the parquet ``save()`` has the
    same option.

    A single .tif is one file — an inherent gather point — but the gather is
    STREAMED, and each tile is evaluated once: the tile grid, in one
    partition per engine tile row (fewer when a run of tiles is longer than
    a row), already yields its tiles in (tile_y, tile_x) order, so the
    driver pulls one partition at a time via ``toLocalIterator()`` (one
    single-stage job each, the next prefetched), assembles rolling strips,
    and appends file tiles through ``TiffStreamWriter`` (offset arrays
    patched at close).  Driver memory is O(raster_width x strip_height),
    never O(raster) — the same bound as the reference's strip-by-strip GDAL
    writes
    (``_operators/__init__.py:1092-1111``; multiband file writes mirror
    ``_core.py:314-414``).  Use ``save()`` (parquet raster table) for
    outputs that must stay distributed."""
    from .operators import LayerOperation  # pylint: disable=C0415
    from .plans import executor  # pylint: disable=C0415
    from .sources.geotiff import TiffStreamWriter  # pylint: disable=C0415

    trees = tree if isinstance(tree, (list, tuple)) else [tree]
    roots = [
        t if isinstance(t, LayerOperation) else LayerOperation(t) for t in trees
    ]
    if len({r.window for r in roots}) != 1:
        raise ValueError("All bands must share the same extent/window")
    if len({r.datatype for r in roots}) != 1:
        raise ValueError("All bands must share one datatype (use astype)")
    w = roots[0].window
    out_dtype = roots[0].datatype.to_numpy()
    file_tile = 256
    if bigtiff is None:
        # Auto: uncompressed size near the classic 4 GiB offset ceiling ->
        # BigTIFF (deflate may still fit classic, but the streaming writer
        # cannot know final sizes up front and failing after the gather is
        # the worse outcome; explicit bigtiff=False overrides).
        import numpy as _np0  # pylint: disable=C0415

        est = w.xsize * w.ysize * _np0.dtype(out_dtype).itemsize * len(roots)
        bigtiff = est > int(3.5 * (1 << 30))
    elif not bigtiff and not sparse:
        # Plan-time fail-fast for a hopeless explicit bigtiff=False —
        # compression-aware: uncompressed data offers no headroom at all,
        # while deflate/lzw on real rasters rarely beats 8:1, so past 8x
        # the 4 GiB offset ceiling failure is a certainty — better to
        # refuse now than after streaming most of the gather.  sparse=True
        # is exempt (file size depends on the nodata fraction, unknowable
        # at plan time).  Borderline sizes still get the exact mid-write
        # check in TiffStreamWriter.write_tile.
        import numpy as _np1  # pylint: disable=C0415

        est = w.xsize * w.ysize * _np1.dtype(out_dtype).itemsize * len(roots)
        ceiling = (4 << 30) if compression == "none" else 8 * (4 << 30)
        if est > ceiling:
            raise ValueError(
                f"~{est >> 30} GiB of pixels cannot fit classic TIFF's "
                f"4 GiB offset ceiling with compression={compression!r}; "
                "pass bigtiff=True (or bigtiff=None for auto-selection)"
            )
    writer = TiffStreamWriter(
        path, w.xsize, w.ysize, out_dtype, roots[0].area, nodata=nodata,
        tile_size=file_tile, n_bands=len(roots), bigtiff=bigtiff,
        compression=compression, sparse=sparse,
    )
    spark_s = executor.get_spark(spark)
    try:
        for root in roots:
            _stream_band_tiles(writer, root, spark_s, out_dtype, file_tile)
        writer.close()
    except BaseException:
        # Any mid-stream failure (task error, the classic-TIFF 4 GiB
        # mid-write ValueError, ^C) must not leak the handle or leave a
        # stale .part next to the target.
        writer.abort()
        raise


def _stream_band_tiles(writer, root, spark_s, out_dtype, file_tile) -> None:
    """Stream one band's result tiles into ``writer`` (row-major order)."""
    import numpy as _np  # pylint: disable=C0415

    from . import constants as _c  # pylint: disable=C0415
    from .plans import executor  # pylint: disable=C0415

    w = root.window
    n_engine_rows = -(-w.ysize // _c.TILE_SIZE)
    # One grid partition per engine tile row: the driver holds at most a
    # strip and a run of tiles per partition it has pulled.
    tiles = executor._tiles(root, spark_s, n_engine_rows)  # pylint: disable=W0212

    # Rolling strip assembly: engine tiles (TILE_SIZE tall, row-major order)
    # fill a strip buffer; once the iterator advances past an engine tile
    # row, every raster row above it is final, so complete file-tile rows
    # are compressed, appended, and the buffer shifts down.
    buf_rows = _c.TILE_SIZE + file_tile
    buf = _np.zeros((buf_rows, w.xsize), dtype=out_dtype)
    buf_y0 = 0  # absolute raster row of buf[0]
    emitted = 0  # absolute raster row up to which file tiles are written

    def _flush(complete: int, final: bool = False) -> None:
        """Emit file-tile rows fully below raster row ``complete`` (all of
        them when ``final``), then slide the buffer.  Rows the engine never
        emitted (sparse gaps) read as zeros."""
        nonlocal buf_y0, emitted
        while (emitted + file_tile <= complete) or (final and emitted < w.ysize):
            h = min(file_tile, w.ysize - emitted)
            strip = _np.zeros((h, w.xsize), dtype=out_dtype)
            lo, hi = max(emitted, buf_y0), min(emitted + h, buf_y0 + buf_rows)
            if lo < hi:
                strip[lo - emitted : hi - emitted] = buf[lo - buf_y0 : hi - buf_y0]
            for fx in range(writer.tiles_x):
                writer.write_tile(strip[:, fx * file_tile : (fx + 1) * file_tile])
            emitted += h
        if emitted > buf_y0:
            shift = emitted - buf_y0
            if shift >= buf_rows:
                buf[:] = 0
            else:
                buf[: buf_rows - shift] = buf[shift:]
                buf[buf_rows - shift :] = 0
            buf_y0 = emitted

    cur_ty = None
    received = 0
    # prefetch: the cluster computes partition k+1 while the driver
    # compresses and writes partition k's strips.
    for row in _local_rows(tiles):
        received += 1
        if cur_ty is not None and row["tile_y"] != cur_ty:
            _flush(row["tile_y"] * _c.TILE_SIZE)
        cur_ty = row["tile_y"]
        tile = _np.frombuffer(row["payload"], dtype=out_dtype).reshape(
            row["ysize"], row["xsize"]
        )
        y0 = row["tile_y"] * _c.TILE_SIZE
        x0 = row["tile_x"] * _c.TILE_SIZE
        buf[y0 - buf_y0 : y0 - buf_y0 + row["ysize"], x0 : x0 + row["xsize"]] = tile
    # The plan emits one row per tile of the window (zeros included), so a
    # short count means the scan lost tiles, e.g. to a stale tile manifest;
    # writing them as zeros would be silently wrong.
    n_tiles = n_engine_rows * -(-w.xsize // _c.TILE_SIZE)
    if received != n_tiles:
        raise RuntimeError(
            f"to_geotiff received {received} of the {n_tiles} tiles of the "
            "computation window: the scan lost or repeated a stored tile (is "
            "the tile manifest stale?)")
    _flush(w.ysize, final=True)


def _local_rows(df):
    """``df.toLocalIterator(prefetchPartitions=True)``, raising a failed
    task's error as a ``PythonException``, as a collect does: the
    iterator raises the JVM's error unconverted, the task's a few causes
    down."""
    from py4j.protocol import Py4JJavaError  # pylint: disable=C0415
    from pyspark.errors import PythonException  # pylint: disable=C0415
    from pyspark.errors.exceptions.captured import convert_exception  # pylint: disable=C0415

    try:
        yield from df.toLocalIterator(prefetchPartitions=True)
    except Py4JJavaError as err:
        cause = err.java_exception
        while cause is not None:
            converted = convert_exception(cause)
            if isinstance(converted, PythonException):
                raise converted from None
            cause = cause.getCause()
        raise


def read_rasters(paths, name: str | None = None) -> GroupLayer:
    """Mosaic several rasters; the first listed wins on overlap."""
    return GroupLayer.layer_from_files(paths, name)


def read_shape(features, projection: MapProjection, burn_value=1, where_filter=None,
               datatype: DataType | None = None, name: str | None = None) -> VectorLayer:
    """Open a polygon table as a lazily-rasterized layer."""
    return VectorLayer(
        features, projection, burn_value=burn_value, where_filter=where_filter,
        datatype=datatype, name=name,
    )


def constant(value: float) -> ConstantLayer:
    return ConstantLayer(value)


def from_array(data: np.ndarray, origin: tuple[float, float],
               projection: MapProjection, name: str | None = None) -> ArrayLayer:
    return ArrayLayer.from_array(data, origin, projection, name)


def area_raster(projection: MapProjection) -> AreaPerPixelLayer:
    """Layer whose pixels are their own area in m²."""
    return AreaPerPixelLayer(projection)


def read_narrow_raster(column, area: Area, name: str | None = None) -> UniformAreaLayer:
    return UniformAreaLayer(column, area, name)


def h3_tile(cell_id: int, projection: MapProjection) -> CellLayer:
    """Rasterize one spatial-index cell to a 1.0/0.0 mask layer."""
    return CellLayer(cell_id, projection)


def s2_tile(cell_id: int, projection: MapProjection):
    """Rasterize one genuine S2 cell (spatial/s2.py ids) to a 1.0/0.0 mask
    layer — raster <-> stored-S2-key interop (e.g. zonal stats per S2 cell)."""
    from .sources.cells import S2CellLayer

    return S2CellLayer(cell_id, projection)


__all__ = [
    "DataType", "CRS", "Area", "MapProjection", "Window",
    "LayerOperation", "WindowOp", "Op",
    "where", "minimum", "maximum", "sum", "any", "all", "clip",
    "log", "log2", "log10", "exp", "exp2", "nan_to_num", "isin",
    "abs", "floor", "round", "ceil",
    "logical_and", "logical_or", "logical_xor", "logical_not",
    "Layer", "ArrayLayer", "ConstantLayer", "UniformAreaLayer",
    "AreaPerPixelLayer", "ParquetRasterLayer", "GroupLayer",
    "TiledGroupLayer", "VectorLayer", "CellLayer", "ReprojectedLayer",
    "read_raster", "read_rasters", "read_shape", "constant", "from_array",
    "area_raster", "read_narrow_raster", "h3_tile", "s2_tile", "to_geotiff",
    "write_array_as_raster_table", "save_multiband", "zonal_sum",
    "zonal_stats",
    "load_geojson",
]
