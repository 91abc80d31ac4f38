"""Raster tiles stored as a parquet table — this engine's native raster format.

Layout (one directory per raster):

* ``part-*.parquet`` — rows ``(band:int, tile_y:int, tile_x:int, ysize:int,
  xsize:int, payload:binary)``; ``payload`` is the row-major numpy buffer of
  that tile in the raster's dtype.  Tile ``(tile_y, tile_x)`` covers pixels
  ``[tile_y*S, tile_y*S+ysize) x [tile_x*S, tile_x*S+xsize)`` of the raster's
  own pixel space.  Files are written sorted by ``(band, tile_y, tile_x)`` so
  parquet row-group statistics give tile-range predicate pushdown for free.
* ``_raster_meta.json`` — area, projection, pitch, dtype, nodata, tile size.

Binary payloads (rather than ``array<double>``) keep all eleven dtypes —
including the unsigned ones Spark lacks — byte-exact, and avoid per-element
list overhead in both parquet and Arrow.

At execution time the engine reads a parquet layer in one of two ways (see
``plans/executor.py``): the manifest plan lists the table's pruned (file,
row group) pairs on the driver and its workers decode them into tile slots;
any other tree runs over a tile grid whose kernel reads the layer through
``read_window`` in-process.  Both ask this module which row groups hold a
tile range (``_pruned_row_groups``: the save-time manifest first, parquet
footers otherwise) and decode them with ``_decoded_row_group``.
``read_window`` is also the driver-side read of ``read_array``, mosaics and the
``evaluate_window`` oracle.
"""

from __future__ import annotations

import json
import math
import os
import threading
from typing import Any

import numpy as np

from ..dtypes import DataType
from ..grid import Area, CRS, MapProjection, Window
from .. import constants
from .base import Layer, pad_to_window, stable_hash

META_FILENAME = "_raster_meta.json"

# TASK-scoped decoded-row-group cache for kernel-side ranged reads (tile-grid
# leaves, mosaic children): a row group holds ~16 tiles and a tile read
# uses 1-2 of them, so decoding per read would amplify decode up to 16x
# over a task's contiguous tile run.  The executor pushes a scope around
# each task's tile loop and pops it when the task ends, so consecutive
# tiles reuse the decoded groups while NOTHING persists across tasks or
# passes (each bench/oracle invocation still decodes from parquet).  The
# driver's ``read_array`` opens a scope too, and user code may call it from
# several threads, so each thread keeps its own scope stack.
_READ_SCOPE = threading.local()
_READ_SCOPE_MAX_RGS = 16  # ~16 x 8 MB decoded per task, bounded
_PQ_HANDLE_CACHE: dict[tuple, Any] = {}
# The module caches below are shared by every thread of the process.  Their
# FIFO eviction is a check-then-act (two threads could pick the same oldest
# key), so eviction and insert run under one lock; lookups need none.
_CACHE_LOCK = threading.Lock()


def _cache_put(cache: dict, key, value, limit: int):
    """Insert ``value`` into a module cache bounded to ``limit`` entries,
    evicting the oldest first; returns ``value``."""
    with _CACHE_LOCK:
        while len(cache) >= limit:
            cache.pop(next(iter(cache)))
        cache[key] = value
    return value


def _scope_stack() -> list[dict]:
    stack = getattr(_READ_SCOPE, "stack", None)
    if stack is None:
        stack = _READ_SCOPE.stack = []
    return stack


def push_read_scope() -> None:
    _scope_stack().append({})


def pop_read_scope() -> None:
    stack = _scope_stack()
    if stack:
        stack.pop()


def _pq_handle(fpath: str):
    """The process's open ``ParquetFile`` for ``fpath``, shared by the
    executor's manifest reads and the ranged reads here.  Keyed by (path,
    mtime_ns, size), NOT path alone: an overwrite that reuses the file name
    would otherwise keep serving the DELETED inode through the cached open
    handle — stale reads that depend on which worker gets the task."""
    import pyarrow.parquet as pq  # pylint: disable=C0415

    st = os.stat(fpath)
    key = (fpath, st.st_mtime_ns, st.st_size)
    pf = _PQ_HANDLE_CACHE.get(key)
    if pf is None:
        pf = _cache_put(_PQ_HANDLE_CACHE, key, pq.ParquetFile(fpath), 64)
    return pf


def write_meta(
    path: str,
    area: Area,
    dtype: DataType,
    nodata: float | None,
    tile_size: int,
    bands: int = 1,
    interleaved: bool = False,
    dense: bool = True,
) -> None:
    projection = area.projection
    assert projection is not None
    meta = {
        "format": "yirgacheffe-spark-raster",
        "version": 1,
        "left": area.left,
        "top": area.top,
        "right": area.right,
        "bottom": area.bottom,
        "projection": projection.crs.code,
        "xstep": projection.xstep,
        "ystep": projection.ystep,
        "dtype": dtype.name,
        "nodata": nodata,
        "tile_size": tile_size,
        "bands": bands,
        "interleaved": interleaved,
        # dense=False (sparse save): all-zero tiles were dropped at write,
        # so readers must find ABSENT tiles from the stored tile keys and
        # treat them as zeros; dense tables get closed-form coverage
        # instead (no key read).
        "dense": dense,
    }
    with open(os.path.join(path, META_FILENAME), "w", encoding="utf-8") as fp:
        json.dump(meta, fp, indent=1)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILENAME), encoding="utf-8") as fp:
        return json.load(fp)


MANIFEST_JSON = "_tile_manifest.json"


def write_tile_manifest(path: str) -> None:
    """Iceberg-style save-time manifest: one JSON carrying every row group's
    (file, tile_y min/max, tile_x min/max), written once by the writer so a
    reader plans its pruned scan from a SINGLE metadata fetch.  Without it,
    planning reads every parquet footer — one ranged GET per file against
    object storage, linear driver cost as table file counts grow."""
    entries: dict[str, list] = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        entries[name] = [
            [rg, list(ymm) if ymm else None, list(xmm) if xmm else None,
             list(bmm) if bmm else None]
            for rg, ymm, xmm, bmm in row_group_tile_stats(
                os.path.join(path, name))
        ]
    with open(os.path.join(path, MANIFEST_JSON), "w", encoding="utf-8") as fp:
        json.dump({"version": 2, "entries": entries}, fp)


def row_group_tile_stats(file_path: str) -> list:
    """Per-row-group (rg, (ty_min, ty_max), (tx_min, tx_max),
    (band_min, band_max)) from one parquet footer — the single source of
    the footer-stat format, shared by the save-time manifest writer and
    the executor's planning-time footer reader (they used to carry
    separate copies of this loop).  Band stats let a single-band read of a
    non-interleaved multiband table prune the other bands' row groups
    driver-side (files are band-pure, so whole files drop)."""
    import pyarrow.parquet as pq  # pylint: disable=C0415

    md = pq.ParquetFile(file_path).metadata
    cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
    iy, ix, ib = cols.get("tile_y"), cols.get("tile_x"), cols.get("band")

    def minmax(group, idx):
        if idx is None:
            return None
        st = group.column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        return (int(st.min), int(st.max))

    out = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        out.append((rg, minmax(g, iy), minmax(g, ix), minmax(g, ib)))
    return out


_TILE_MANIFEST_CACHE: dict[tuple[str, int], tuple[dict, list]] = {}


def _manifest_entry(path: str) -> tuple[dict, list] | None:
    """The saved manifest of the table at ``path`` as ({file -> [(rg,
    ty_minmax, tx_minmax, band_minmax), ...]}, the same rows flattened to
    ``(file path, rg, ...)``), or None when the table predates manifests.
    Cached per (dir, manifest mtime_ns), so a repeated lookup costs one
    stat."""
    mf = os.path.join(path, MANIFEST_JSON)
    try:
        key = (path, os.stat(mf).st_mtime_ns)
    except FileNotFoundError:
        return None
    got = _TILE_MANIFEST_CACHE.get(key)
    if got is None:
        with open(mf, encoding="utf-8") as fp:
            doc = json.load(fp)
        by_file = {
            name: [
                # v1 rows have 3 fields (no band stats); pad with None.
                (r[0],
                 tuple(r[1]) if r[1] else None,
                 tuple(r[2]) if r[2] else None,
                 tuple(r[3]) if len(r) > 3 and r[3] else None)
                for r in rows
            ]
            for name, rows in doc.get("entries", {}).items()
        }
        flat = [(os.path.join(path, name), *row)
                for name in sorted(by_file) for row in by_file[name]]
        got = _cache_put(_TILE_MANIFEST_CACHE, key, (by_file, flat), 64)
    return got


def read_tile_manifest(path: str) -> dict | None:
    """The saved manifest as {file -> [(rg, (ty_min, ty_max), (tx_min,
    tx_max), (band_min, band_max)), ...]}, or None when the table predates
    manifests."""
    entry = _manifest_entry(path)
    return None if entry is None else entry[0]


# Footer statistics cache for tables without a manifest: repeated reads of
# the same raster must not re-read every parquet footer.  Keyed by (file,
# mtime_ns), so an overwrite that reuses a file name is re-read.
_FOOTER_CACHE: dict[tuple[str, int], list] = {}


def _footer_stats(path: str) -> list:
    """``row_group_tile_stats`` of one part file, cached per (file,
    mtime_ns) and FIFO-bounded for long-lived sessions."""
    key = (path, os.stat(path).st_mtime_ns)
    got = _FOOTER_CACHE.get(key)
    if got is None:
        got = _cache_put(_FOOTER_CACHE, key, row_group_tile_stats(path), 4096)
    return got


def _pruned_row_groups(path: str, band_lo: int, band_hi: int,
                       stored_range: tuple[int, int, int, int]) -> list:
    """(file, rg, ty_minmax, tx_minmax) of every row group of the table at
    ``path`` whose statistics may hold a tile of bands [band_lo, band_hi]
    inside the stored-tile range (sy_lo, sy_hi, sx_lo, sx_hi).  The
    statistics come from the save-time manifest when the table has one (one
    cached lookup), else from each part file's footer."""
    entry = _manifest_entry(path)
    if entry is not None:
        rows = entry[1]
    else:
        rows = [(f, *row)
                for f in (os.path.join(path, n) for n in sorted(os.listdir(path))
                          if n.endswith(".parquet"))
                for row in _footer_stats(f)]
    sy_lo, sy_hi, sx_lo, sx_hi = stored_range
    out = []
    for f, rg, ymm, xmm, bmm in rows:
        # Band pruning: non-interleaved multiband tables are band-pure per
        # file, so a single-band read drops the other bands' row groups
        # instead of decoding their payloads only to discard every row.
        if bmm is not None and (bmm[1] < band_lo or bmm[0] > band_hi):
            continue
        if ymm is not None and (ymm[1] < sy_lo or ymm[0] > sy_hi):
            continue
        if xmm is not None and (xmm[1] < sx_lo or xmm[0] > sx_hi):
            continue
        out.append((f, rg, ymm, xmm))
    return out


_TILE_COLUMNS = ("band", "tile_y", "tile_x", "ysize", "xsize")


def _decoded_row_group(f: str, rg: int) -> tuple:
    """One row group of a tile table through the process's open-file cache:
    its ``band, tile_y, tile_x, ysize, xsize`` columns as numpy arrays and
    one zero-copy payload buffer per row."""
    tbl = _pq_handle(f).read_row_group(rg, columns=[*_TILE_COLUMNS, "payload"])
    pay = tbl.column("payload")
    if pay.num_chunks != 1:
        pay = pay.combine_chunks()
    chunk = pay.chunk(0) if hasattr(pay, "chunk") else pay
    return (*(tbl.column(c).to_numpy() for c in _TILE_COLUMNS),
            [memoryview(chunk[i].as_buffer()) for i in range(len(chunk))])


class ParquetRasterLayer(Layer):
    """A raster layer backed by a parquet tile table on disk.

    Holds only the path and metadata (picklable; no open handles), so the
    same object works on the driver for planning and inside kernels for
    direct reads.
    """

    def __init__(self, path: str, band: int = 1, name: str | None = None,
                 ignore_nodata: bool = False):
        meta = read_meta(path)
        projection = MapProjection(CRS(meta["projection"]), meta["xstep"], meta["ystep"])
        area = Area(meta["left"], meta["top"], meta["right"], meta["bottom"], projection)
        super().__init__(area, name if name is not None else path)
        self.path = path
        self.band = band
        self.tile_size = int(meta["tile_size"])
        self.bands = int(meta.get("bands", 1))
        self.interleaved = bool(meta.get("interleaved", False))
        self.dense = bool(meta.get("dense", True))
        self._dtype = DataType[meta["dtype"]]
        self._nodata = meta.get("nodata")
        self._ignore_nodata = ignore_nodata

    @property
    def datatype(self) -> DataType:
        return self._dtype

    @property
    def nodata(self):
        return self._nodata

    @property
    def cse_hash(self) -> int | None:
        return stable_hash(self.path, self._underlying_area, self.projection,
                           self._dtype, self._ignore_nodata, self.band)

    @property
    def stored_tiles(self) -> tuple[int, int]:
        w = self.window
        return (
            math.ceil(w.ysize / self.tile_size),
            math.ceil(w.xsize / self.tile_size),
        )

    def apply_nodata(self, data: np.ndarray) -> np.ndarray:
        if not self._ignore_nodata and self._nodata is not None:
            return np.where(data == self._nodata, float("nan"), data)
        return data

    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int, window: Window) -> Any:
        """Direct pyarrow read of the requested region: the row groups whose
        tile ranges it touches (``_pruned_row_groups``), decoded once per
        read scope — consecutive tiles of a task reuse them — or once per
        call outside a scope.  On a dense table every stored tile of the
        region must be found, or the read raises."""
        if xsize <= 0 or ysize <= 0:
            raise ValueError("Request dimensions must be positive and non-zero")
        requested = Window(window.xoff + xoff, window.yoff + yoff, xsize, ysize)
        stored = Window(0, 0, self.window.xsize, self.window.ysize)
        overlap = Window.intersection_or_none([requested, stored])
        np_dtype = self._dtype.to_numpy()
        if overlap is None:
            return np.zeros((ysize, xsize), dtype=np_dtype)

        s = self.tile_size
        ty_lo, ty_hi = overlap.yoff // s, (overlap.ymax - 1) // s
        tx_lo, tx_hi = overlap.xoff // s, (overlap.xmax - 1) // s
        stack = _scope_stack()
        cache = stack[-1] if stack else {}
        out = np.zeros((overlap.ysize, overlap.xsize), dtype=np_dtype)
        found = np.zeros((ty_hi - ty_lo + 1, tx_hi - tx_lo + 1), dtype=bool)
        for f, rg, _ymm, _xmm in _pruned_row_groups(
                self.path, self.band, self.band, (ty_lo, ty_hi, tx_lo, tx_hi)):
            entry = cache.get((f, rg))
            if entry is None:
                entry = _decoded_row_group(f, rg)
                while len(cache) >= _READ_SCOPE_MAX_RGS:
                    cache.pop(next(iter(cache)))
                cache[(f, rg)] = entry
            b_a, ty_a, tx_a, h_a, w_a, bufs = entry
            sel = np.nonzero(
                (b_a == self.band)
                & (ty_a >= ty_lo) & (ty_a <= ty_hi)
                & (tx_a >= tx_lo) & (tx_a <= tx_hi)
            )[0]
            for i in sel:
                h, w = int(h_a[i]), int(w_a[i])
                tile = np.frombuffer(bufs[i], dtype=np_dtype).reshape(h, w)
                found[int(ty_a[i]) - ty_lo, int(tx_a[i]) - tx_lo] = True
                y0, x0 = int(ty_a[i]) * s, int(tx_a[i]) * s
                src_y0 = max(overlap.yoff - y0, 0)
                src_x0 = max(overlap.xoff - x0, 0)
                src_y1 = min(overlap.ymax - y0, h)
                src_x1 = min(overlap.xmax - x0, w)
                if src_y0 >= src_y1 or src_x0 >= src_x1:
                    continue
                dst_y0 = y0 + src_y0 - overlap.yoff
                dst_x0 = x0 + src_x0 - overlap.xoff
                out[dst_y0 : dst_y0 + (src_y1 - src_y0),
                    dst_x0 : dst_x0 + (src_x1 - src_x0)] = tile[src_y0:src_y1, src_x0:src_x1]
        if self.dense and not found.all():
            # A dense table stores every tile, so an absent one means the
            # row-group listing (e.g. a stale tile manifest) lost it;
            # reading it as zeros would be silently wrong.
            ty, tx = (int(v[0]) for v in np.nonzero(~found))
            raise RuntimeError(
                f"{self.path}: stored tile ({ty + ty_lo},{tx + tx_lo}) of band "
                f"{self.band} is in no listed row group (is the tile manifest stale?)")
        if overlap != requested:
            out = pad_to_window(out, overlap, requested)
        return self.apply_nodata(out)


def write_array_as_raster_table(
    path: str,
    data: np.ndarray,
    area: Area,
    nodata: float | None = None,
    tile_size: int | None = None,
) -> ParquetRasterLayer:
    """Tile an in-memory array into the parquet raster format (test helper)."""
    import pyarrow as pa  # pylint: disable=C0415
    import pyarrow.parquet as pq  # pylint: disable=C0415

    s = tile_size or constants.STORAGE_TILE_SIZE
    data = np.ascontiguousarray(data)
    os.makedirs(path, exist_ok=True)
    rows: dict[str, list] = {"band": [], "tile_y": [], "tile_x": [], "ysize": [], "xsize": [], "payload": []}
    height, width = data.shape
    for ty in range(math.ceil(height / s)):
        for tx in range(math.ceil(width / s)):
            chunk = data[ty * s : (ty + 1) * s, tx * s : (tx + 1) * s]
            rows["band"].append(1)
            rows["tile_y"].append(ty)
            rows["tile_x"].append(tx)
            rows["ysize"].append(chunk.shape[0])
            rows["xsize"].append(chunk.shape[1])
            rows["payload"].append(np.ascontiguousarray(chunk).tobytes())
    table = pa.table(
        {
            "band": pa.array(rows["band"], pa.int32()),
            "tile_y": pa.array(rows["tile_y"], pa.int32()),
            "tile_x": pa.array(rows["tile_x"], pa.int32()),
            "ysize": pa.array(rows["ysize"], pa.int32()),
            "xsize": pa.array(rows["xsize"], pa.int32()),
            "payload": pa.array(rows["payload"], pa.binary()),
        }
    )
    # Small row groups: tile rows are megabytes, and row-group boundaries are
    # what lets Spark split one file across tasks and skip pruned tile ranges.
    # zstd over snappy: integer-valued raster payloads compress ~2x smaller,
    # and at scale scan bytes (disk/network) are the bottleneck, not decode.
    pq.write_table(
        table, os.path.join(path, "part-00000.parquet"), row_group_size=16,
        compression="zstd", compression_level=3,
    )
    write_meta(path, area, DataType.of_array(data), nodata, s)
    write_tile_manifest(path)
    return ParquetRasterLayer(path)


def write_multiband_interleaved(
    path: str,
    channels: dict[int, np.ndarray],
    area: Area,
    nodata: float | None = None,
    tile_size: int | None = None,
) -> dict[int, "ParquetRasterLayer"]:
    """Write several bands as ONE tile table sorted (tile_y, tile_x, band)
    with row groups aligned to whole tiles, so every band of a tile lands in
    the same scan task — multi-channel expressions then need no shuffle at
    all (see the manifest plan in ``plans/executor.py``).
    """
    import pyarrow as pa  # pylint: disable=C0415
    import pyarrow.parquet as pq  # pylint: disable=C0415

    s = tile_size or constants.STORAGE_TILE_SIZE
    band_ids = sorted(channels)
    first = np.ascontiguousarray(channels[band_ids[0]])
    height, width = first.shape
    dtypes = {DataType.of_array(np.asarray(c)) for c in channels.values()}
    if len(dtypes) != 1:
        raise ValueError("All bands must share one dtype")
    os.makedirs(path, exist_ok=True)
    rows: dict[str, list] = {k: [] for k in ("band", "tile_y", "tile_x", "ysize", "xsize", "payload")}
    for ty in range(math.ceil(height / s)):
        for tx in range(math.ceil(width / s)):
            for b in band_ids:
                chunk = np.asarray(channels[b])[ty * s : (ty + 1) * s, tx * s : (tx + 1) * s]
                rows["band"].append(b)
                rows["tile_y"].append(ty)
                rows["tile_x"].append(tx)
                rows["ysize"].append(chunk.shape[0])
                rows["xsize"].append(chunk.shape[1])
                rows["payload"].append(np.ascontiguousarray(chunk).tobytes())
    table = pa.table(
        {
            "band": pa.array(rows["band"], pa.int32()),
            "tile_y": pa.array(rows["tile_y"], pa.int32()),
            "tile_x": pa.array(rows["tile_x"], pa.int32()),
            "ysize": pa.array(rows["ysize"], pa.int32()),
            "xsize": pa.array(rows["xsize"], pa.int32()),
            "payload": pa.array(rows["payload"], pa.binary()),
        }
    )
    # Row groups hold whole tiles (a multiple of the band count), so a Spark
    # file split can never separate one tile's bands.
    pq.write_table(
        table, os.path.join(path, "part-00000.parquet"),
        row_group_size=len(band_ids) * 4,
        compression="zstd", compression_level=3,
    )
    write_meta(path, area, dtypes.pop(), nodata, s, bands=len(band_ids), interleaved=True)
    write_tile_manifest(path)
    return {b: ParquetRasterLayer(path, band=b) for b in band_ids}
