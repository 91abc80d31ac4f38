"""Raster tiles stored as a parquet table — this engine's native raster format.

Layout (one directory per raster):

* ``part-*.parquet`` — rows ``(band:int, tile_y:int, tile_x:int, ysize:int,
  xsize:int, payload:binary)``; ``payload`` is the row-major numpy buffer of
  that tile in the raster's dtype.  Tile ``(tile_y, tile_x)`` covers pixels
  ``[tile_y*S, tile_y*S+ysize) x [tile_x*S, tile_x*S+xsize)`` of the raster's
  own pixel space.  Files are written clustered by ``(band, tile_y, tile_x)``
  in row groups of about ``ROW_GROUP_BYTES`` of payload and at most
  ``ROW_GROUP_TILES`` tiles (``row_group_tiles``), so row-group statistics
  give tile-range pruning for free.  Every writer opens its files through
  ``open_tile_writer``, the format's one writer policy.
* ``_raster_meta.json`` — area, projection, pitch, dtype, nodata, tile size.
* ``_tile_manifest.json`` — every row group's tile ranges (see
  ``write_tile_manifest``).

Binary payloads (rather than ``array<double>``) keep all eleven dtypes —
including the unsigned ones Spark lacks — byte-exact, and avoid per-element
list overhead in both parquet and Arrow.

At execution time every tree runs on the executor's tile grid (see
``plans/executor.py``), whose kernel reads a parquet layer in-process
through ``read_window``.  The layer alone maps a read onto its stored tiles
and asks this module which row groups hold them (``_pruned_row_groups``,
over the table's indexed listing: the save-time manifest first, parquet
footers otherwise).  Ahead of each tile the grid asks every leaf which row
groups its read of the tile will decode (``ParquetRasterLayer.row_groups``)
and decodes those the read scope lacks together (``prefetch_row_groups``,
with ``_decoded_row_groups`` on a thread pool sized by the cores the caller
owns; pyarrow releases the GIL while it decompresses); ``read_window``
then finds them there.  ``read_window`` is also the driver-side read of
``read_array``, mosaics and the ``evaluate_window`` oracle.

The writers (``write_array_as_raster_table`` here, ``save`` in the
executor) and the readers share one assumption: the table is a directory on
a POSIX-visible path.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import numpy as np

from ..dtypes import DataType
from ..grid import Area, CRS, MapProjection, Window
from .. import constants
from .base import Layer, pad_to_window, stable_hash

META_FILENAME = "_raster_meta.json"
# Row groups are the unit a reader decodes, so every writer of the format
# cuts them by decoded size (``row_group_tiles``): about ``ROW_GROUP_BYTES``
# of payload, and never more than ``ROW_GROUP_TILES`` tiles — 16 int16 tiles
# of 512 x 512 fill both bounds, while a float64 table of the same tiles
# gets row groups of 4.
ROW_GROUP_TILES = 16
ROW_GROUP_BYTES = 8 << 20
# zstd level of every writer of the format.  Level 1 measured BOTH faster
# (2.04s vs 2.28s for a 2.3 GB write at sf1.0) and smaller (447 MB vs 540
# MB) than level 3 on integer tile payloads — the byte-planar repetition of
# raster data rewards the fast match finder.
ZSTD_LEVEL = 1

# Read scopes: a task's (or a ``read_array`` call's) run of tile reads keeps
# the row groups it decoded, because a row group holds up to 16 tiles and a
# tile read uses 1-2 of them: decoding per read would amplify decode up to 16x
# over a contiguous run of tiles.  The executor pushes a scope around each
# run and pops it when the run ends, so NOTHING persists across tasks or
# passes (each bench/oracle invocation still decodes from parquet).  A scope
# holds at most ``_READ_SCOPE_MAX_RGS`` decoded row groups, evicted oldest
# first; row groups enter it only through ``prefetch_row_groups``, which
# decodes those a scope lacks together (concurrently where the caller owns
# several cores): the tile grid calls it ahead of each tile, and
# ``read_window`` for whatever its read still lacks.  A scope also
# pins the row-group listing each table was first read with, so a run of
# reads never mixes two versions of a table that ``save`` overwrites
# meanwhile: it sees one, or fails on a file the overwrite removed.  User
# code may call ``read_array`` from several threads, so each thread keeps
# its own scope stack.
_READ_SCOPE = threading.local()
_READ_SCOPE_MAX_RGS = 16  # <= ~16 x ROW_GROUP_BYTES decoded per scope
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


class _ReadScope:
    """One run of reads in one thread: decoded row groups by (file, rg),
    oldest first, and the row-group listing of each table path read."""

    def __init__(self):
        self.rgs: dict[tuple, tuple] = {}
        self.listings: dict[str, _Listing] = {}


def _scope_stack() -> list[_ReadScope]:
    stack = getattr(_READ_SCOPE, "stack", None)
    if stack is None:
        stack = _READ_SCOPE.stack = []
    return stack


def push_read_scope() -> None:
    _scope_stack().append(_ReadScope())


def pop_read_scope() -> None:
    stack = _scope_stack()
    if stack:
        stack.pop()


def _pq_handle(fpath: str):
    """The process's open ``ParquetFile`` for ``fpath``, shared by every
    read here.  Keyed by (path, mtime_ns, size), NOT path alone: an
    overwrite that reuses the file name would otherwise keep serving the
    DELETED inode through the cached open handle — stale reads that depend
    on which worker gets the task."""
    import pyarrow.parquet as pq  # pylint: disable=C0415

    st = os.stat(fpath)
    key = (fpath, st.st_mtime_ns, st.st_size)
    pf = _PQ_HANDLE_CACHE.get(key)
    if pf is None:
        pf = _cache_put(_PQ_HANDLE_CACHE, key, pq.ParquetFile(fpath), 64)
    return pf


def row_group_tiles(tile_bytes: int) -> int:
    """Tiles per row group for tiles of up to ``tile_bytes`` decoded bytes:
    ``ROW_GROUP_BYTES`` worth, between 1 and ``ROW_GROUP_TILES``."""
    return max(1, min(ROW_GROUP_TILES, ROW_GROUP_BYTES // max(tile_bytes, 1)))


def open_tile_writer(fpath: str, schema):
    """The ``ParquetWriter`` of one part file of a tile table, configured
    with the format's one writer policy: zstd at ``ZSTD_LEVEL``; statistics
    on the key columns only (readers prune on them, and a payload's are
    useless); no dictionary on ``payload``.  The caller writes row groups
    of ``row_group_tiles`` tiles."""
    import pyarrow.parquet as pq  # pylint: disable=C0415

    return pq.ParquetWriter(
        fpath, schema, compression="zstd", compression_level=ZSTD_LEVEL,
        use_dictionary=[n for n in schema.names if n != "payload"],
        write_statistics=["band", "tile_y", "tile_x"])


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
    _write_json(os.path.join(path, META_FILENAME), meta, indent=1)


def _write_json(fpath: str, doc: dict, indent: int | None = None) -> None:
    """Write ``doc`` to ``fpath`` by rename, so a concurrent reader sees
    the old file or the new one, never a partial one."""
    tmp = f"{fpath}.{os.getpid()}.{threading.get_ident()}.tmp"
    with open(tmp, "w", encoding="utf-8") as fp:
        json.dump(doc, fp, indent=indent)
    os.replace(tmp, fpath)


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
    _write_json(os.path.join(path, MANIFEST_JSON), {"version": 2, "entries": entries})


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


class _Listing:
    """The row groups of one table as ``(file, rg, ty_minmax, tx_minmax,
    band_minmax)`` rows in file order, indexed by first tile row, so that
    finding the row groups of a tile range costs about the same at 40,000
    row groups as at 400 (a scan of every row is linear in the table).
    The index keeps row groups in classes by span (the tile rows a row
    group covers past its first: 0, 1, 2-3, 4-7, ...), and searches each
    class back from the range by its widest span only, so a row group that
    spans many tile rows (a sparse save over an empty region writes such
    ones) does not widen the search of the others.  A row group without
    ``tile_y`` statistics may hold any tile row, so it meets every
    range."""

    def __init__(self, rows: list):
        self.rows = rows
        self.unbounded: list[int] = []
        classes: dict[int, dict[int, list[int]]] = {}
        for i, (_f, _rg, ymm, _xmm, _bmm) in enumerate(rows):
            if ymm is None:
                self.unbounded.append(i)
            else:
                span = max(ymm[1] - ymm[0], 0)
                classes.setdefault(span.bit_length(), {}).setdefault(ymm[0], []).append(i)
        # Per class: (its widest span, its sorted first rows, their rows).
        self.classes = [((1 << k) - 1, sorted(by_start),
                         [by_start[start] for start in sorted(by_start)])
                        for k, by_start in classes.items()]

    def meeting_rows(self, sy_lo: int, sy_hi: int) -> list:
        """The rows, in file order, whose tile rows may meet [sy_lo, sy_hi]."""
        hits = list(self.unbounded)
        for reach, starts, groups in self.classes:
            lo = bisect.bisect_left(starts, sy_lo - reach)
            hi = bisect.bisect_right(starts, sy_hi)
            for group in groups[lo:hi]:
                hits += [i for i in group if self.rows[i][2][1] >= sy_lo]
        return [self.rows[i] for i in sorted(hits)]


_TILE_MANIFEST_CACHE: dict[tuple[str, int, int], tuple[dict, _Listing]] = {}


def _manifest_entry(path: str) -> tuple[dict, _Listing] | None:
    """The saved manifest of the table at ``path`` as ({file -> [(rg,
    ty_minmax, tx_minmax, band_minmax), ...]}, the same rows as a
    ``_Listing``), or None when the table predates manifests.
    Cached per (dir, manifest mtime_ns, inode), so a repeated lookup costs
    one stat; the inode tells apart two manifests renamed into place within
    one tick of the file system's clock."""
    mf = os.path.join(path, MANIFEST_JSON)
    try:
        st = os.stat(mf)
    except FileNotFoundError:
        return None
    key = (path, st.st_mtime_ns, st.st_ino)
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
        listing = _Listing([(os.path.join(path, name), *row)
                            for name in sorted(by_file) for row in by_file[name]])
        got = _cache_put(_TILE_MANIFEST_CACHE, key, (by_file, listing), 64)
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


def _table_row_groups(path: str) -> _Listing:
    """Every row group of the table at ``path``: from the save-time
    manifest when the table has one (one cached lookup), else from each
    part file's footer.  Inside a read scope, the listing the scope first
    saw."""
    stack = _scope_stack()
    if stack and path in stack[-1].listings:
        return stack[-1].listings[path]
    entry = _manifest_entry(path)
    if entry is not None:
        listing = entry[1]
    else:
        listing = _Listing([(f, *row)
                            for f in (os.path.join(path, n) for n in sorted(os.listdir(path))
                                      if n.endswith(".parquet"))
                            for row in _footer_stats(f)])
    if stack:
        stack[-1].listings[path] = listing
    return listing


def _pruned_row_groups(path: str, band_lo: int, band_hi: int,
                       stored_range: tuple[int, int, int, int]) -> list:
    """(file, rg, ty_minmax, tx_minmax) of every row group of the table at
    ``path`` whose statistics may hold a tile of bands [band_lo, band_hi]
    inside the stored-tile range (sy_lo, sy_hi, sx_lo, sx_hi)."""
    sy_lo, sy_hi, sx_lo, sx_hi = stored_range
    out = []
    for f, rg, ymm, xmm, bmm in _table_row_groups(path).meeting_rows(sy_lo, sy_hi):
        # Band pruning: non-interleaved multiband tables are band-pure per
        # file, so a single-band read drops the other bands' row groups
        # instead of decoding their payloads only to discard every row.
        if bmm is not None and (bmm[1] < band_lo or bmm[0] > band_hi):
            continue
        if xmm is not None and (xmm[1] < sx_lo or xmm[0] > sx_hi):
            continue
        out.append((f, rg, ymm, xmm))
    return out


_TILE_COLUMNS = ("band", "tile_y", "tile_x", "ysize", "xsize")


def _decode(pf, rg: int) -> tuple:
    tbl = pf.read_row_group(rg, columns=[*_TILE_COLUMNS, "payload"])
    pay = tbl.column("payload")
    if pay.num_chunks != 1:
        pay = pay.combine_chunks()
    chunk = pay.chunk(0) if hasattr(pay, "chunk") else pay
    # Each payload is a slice of the column's data buffer, cut at its
    # offsets (``chunk[i].as_buffer()`` would copy it).
    _validity, offsets, data = chunk.buffers()
    bounds = np.frombuffer(offsets, dtype=np.int32, count=len(chunk) + 1,
                           offset=4 * chunk.offset).tolist()
    data = memoryview(data)
    return (*(tbl.column(c).to_numpy() for c in _TILE_COLUMNS),
            [data[a:b] for a, b in zip(bounds, bounds[1:])])


def _decoded_row_group(f: str, rg: int) -> tuple:
    """One row group of a tile table through the process's open-file cache:
    its ``band, tile_y, tile_x, ysize, xsize`` columns as numpy arrays and
    one zero-copy payload view per row, into the decoded column's data
    buffer."""
    return _decode(_pq_handle(f), rg)


def _caller_cores() -> int:
    """The cores the calling code owns: inside a Spark task its
    ``spark.task.cpus`` (the executor already runs one task per core), on
    the driver every core the process may use."""
    from pyspark import TaskContext  # pylint: disable=C0415

    ctx = TaskContext.get()
    return ctx.cpus() if ctx is not None else len(os.sched_getaffinity(0))


def _decoded_row_groups(keys: list) -> dict:
    """``{(file, rg): _decoded_row_group(file, rg)}`` for ``keys``, decoded
    concurrently on up to one thread per core the caller owns
    (``_caller_cores``): several on the driver, one per task by default;
    pyarrow releases the GIL while it decompresses.  No two threads share
    a ``ParquetFile``: each decode opens its own handle on the cached
    footer."""
    import pyarrow.parquet as pq  # pylint: disable=C0415

    keys = list(dict.fromkeys(keys))
    n = min(len(keys), _caller_cores())
    if n <= 1:
        return {k: _decoded_row_group(*k) for k in keys}

    def decode(key):
        f, rg = key
        with pq.ParquetFile(f, metadata=_pq_handle(f).metadata) as pf:
            return _decode(pf, rg)

    with ThreadPoolExecutor(n) as pool:
        return dict(zip(keys, pool.map(decode, keys)))


def prefetch_row_groups(keys: list) -> None:
    """Decode, together, the row groups of ``keys`` that the current read
    scope lacks, and add them to it.  The scope's oldest entries that
    ``keys`` does not name are evicted first, and it never holds more than
    ``_READ_SCOPE_MAX_RGS`` row groups: past that, the reads decode the
    rest one by one."""
    rgs = _scope_stack()[-1].rgs
    wanted = set(keys)
    missing = [k for k in dict.fromkeys(keys) if k not in rgs][:_READ_SCOPE_MAX_RGS]
    if not missing:
        return
    for k in [k for k in rgs if k not in wanted] + list(rgs):
        if len(rgs) + len(missing) <= _READ_SCOPE_MAX_RGS:
            break
        rgs.pop(k, None)
    for k, entry in _decoded_row_groups(missing).items():
        rgs[k] = entry


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

    def _stored(self, requested: Window):
        """The part of ``requested`` (pixels of this table) that the table
        stores, its stored-tile range ``(ty_lo, ty_hi, tx_lo, tx_hi)`` and
        the ``(file, rg)`` of every row group that may hold a tile of it
        (``_pruned_row_groups``); ``(None, None, [])`` when the table
        stores none of it."""
        overlap = Window.intersection_or_none(
            [requested, Window(0, 0, self.window.xsize, self.window.ysize)])
        if overlap is None:
            return None, None, []
        s = self.tile_size
        rng = (overlap.yoff // s, (overlap.ymax - 1) // s,
               overlap.xoff // s, (overlap.xmax - 1) // s)
        return overlap, rng, [(f, rg) for f, rg, _ymm, _xmm in _pruned_row_groups(
            self.path, self.band, self.band, rng)]

    def row_groups(self, target_area: Area, x: int, y: int, width: int,
                   height: int) -> list:
        """The ``(file, rg)`` keys of the row groups that
        ``read_region(target_area, ..., x, y, width, height)`` decodes: the
        tile grid prefetches them ahead of a tile."""
        window = self.target_window(target_area)
        return self._stored(Window(window.xoff + x, window.yoff + y, width, height))[2]

    def read_window(self, xoff: int, yoff: int, xsize: int, ysize: int, window: Window) -> Any:
        """Direct pyarrow read of the requested region: the row groups whose
        tile ranges it touches (``_stored``).  Inside a read scope, those
        the scope lacks are decoded and added first
        (``prefetch_row_groups``), so consecutive tiles of a task reuse
        them; the tile grid has usually added them ahead of the tile
        (``row_groups``).  Outside a scope, each is decoded once per call,
        one at a time.  This is the engine's one parquet leaf reader.  On a
        dense table every stored tile of the region must be found, or the
        read raises."""
        if xsize <= 0 or ysize <= 0:
            raise ValueError("Request dimensions must be positive and non-zero")
        requested = Window(window.xoff + xoff, window.yoff + yoff, xsize, ysize)
        overlap, rng, keys = self._stored(requested)
        np_dtype = self._dtype.to_numpy()
        if overlap is None:
            return np.zeros((ysize, xsize), dtype=np_dtype)

        s = self.tile_size
        ty_lo, ty_hi, tx_lo, tx_hi = rng
        out = np.zeros((overlap.ysize, overlap.xsize), dtype=np_dtype)
        found = np.zeros((ty_hi - ty_lo + 1, tx_hi - tx_lo + 1), dtype=bool)
        stack = _scope_stack()
        if stack and keys:
            prefetch_row_groups(keys)
        scope = stack[-1].rgs if stack else {}
        for key in keys:
            # Past the scope's bound, a key may not be there: decode it.
            b_a, ty_a, tx_a, h_a, w_a, bufs = scope.get(key) or _decoded_row_group(*key)
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

    s = tile_size or constants.TILE_SIZE
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
    with open_tile_writer(os.path.join(path, "part-00000.parquet"), table.schema) as writer:
        writer.write_table(table, row_group_size=row_group_tiles(s * s * data.itemsize))
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
    in row groups of whole tiles (every band of 4 tiles), so a read of any
    band of a tile decodes the row group that holds all of its bands.
    """
    import pyarrow as pa  # pylint: disable=C0415

    s = tile_size or constants.TILE_SIZE
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
    # Row groups hold whole tiles (a multiple of the band count).
    with open_tile_writer(os.path.join(path, "part-00000.parquet"), table.schema) as writer:
        writer.write_table(table, row_group_size=len(band_ids) * 4)
    write_meta(path, area, dtypes.pop(), nodata, s, bands=len(band_ids), interleaved=True)
    write_tile_manifest(path)
    return {b: ParquetRasterLayer(path, band=b) for b in band_ids}
