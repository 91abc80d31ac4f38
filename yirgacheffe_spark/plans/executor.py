"""Compile an expression tree to a Spark plan and run terminal actions.

Physical shape of every computation:

1. **Plan (driver)** — resolve the operation area/window with the reference's
   extent algebra, split the window into a grid of tiles, and classify
   leaves: parquet-backed rasters, and everything else (in-memory arrays,
   constants, generated layers), which ships inside the kernel closure via a
   broadcast.  ``_build`` picks one of two plans:

   * the **manifest plan**, whenever every parquet leaf lies on the
     computation grid (one table, one interleaved multiband table, or
     per-band tables whose row-group sequences match): the leaves become
     *slots*, the driver lists the (file, row group) pairs that survive
     manifest/footer-statistics pruning, a JVM range of group ids hands
     them to tasks, and workers decode them with pyarrow — no JVM payload
     decode, no shuffle.  Stencil halos ride along as edge strips inside
     the payload broadcast.
   * the **tile grid** for every other tree, including one with no parquet
     leaf: a JVM range of tile ids, and the kernel reads each parquet leaf
     of its tile in-process (``ParquetRasterLayer.read_window`` over the
     task's decoded-row-group cache), exactly as the ``evaluate_window``
     oracle does.
2. **Execute (cluster)** — one ``mapInArrow`` kernel per stage evaluates the
   *whole* numpy expression tree per tile (operator fusion, per-tile CSE),
   emitting either result tiles (save / read_array) or per-tile aggregate
   partials (sum/min/max/unique), which Spark combines — the classic
   partial/final two-stage aggregation.

Implementation notes for throughput:

* Kernels use ``mapInArrow`` (not ``mapInPandas``): tile payloads are
  multi-megabyte binaries, and Arrow buffers are sliced zero-copy into
  numpy, where pandas conversion would materialise Python bytes per tile.
* One Python worker per task.  A kernel's input rows come from the JVM (a
  ``spark.range`` of manifest group ids or tile ids), never from a
  parallelized Python RDD, which would start a second worker per task just
  to emit rows.  Every kernel body is wrapped in ``_worker.task_entry``,
  the library-wide Python task entry hook, so the next task on the same
  worker skips PySpark's per-task zip-archive re-read (see ``_worker``).
* Driver-side plan construction keeps py4j chatter low: a plan is one JVM
  range, and manifests and footer statistics are cached per (file,
  mtime_ns), so repeated terminal actions cost milliseconds of planning.

Scale notes: tiles are the unit of parallelism and shuffle keys are tile
coordinates, so plans scale by adding executors; neither raster plan
shuffles a payload, and aggregations move eight bytes per tile.
"""

from __future__ import annotations

import math
import os
from functools import reduce
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import constants
from .._worker import task_entry
from ..grid import Window
from ..operators import LayerOperation
from ..sources import parquet as pq_raster
from . import kernel as K
from .session import get_spark

TILE_SCHEMA = "band int, tile_y int, tile_x int, ysize int, xsize int, nonzero boolean, payload binary"
PARTIAL_SCHEMA = "ty int, tx int, partial double"
# NaN keys travel as an explicit flag: NaN would become SQL null in the
# groupBy otherwise, silently merging with genuine nulls.
UNIQUE_SCHEMA = "value double, is_nan boolean, count long"

_PA_TILE = pa.schema(
    [("band", pa.int32()), ("tile_y", pa.int32()), ("tile_x", pa.int32()),
     ("ysize", pa.int32()), ("xsize", pa.int32()), ("nonzero", pa.bool_()),
     ("payload", pa.binary())]
)
_PA_PARTIAL = pa.schema([("ty", pa.int32()), ("tx", pa.int32()), ("partial", pa.float64())])
_PA_UNIQUE = pa.schema(
    [("value", pa.float64()), ("is_nan", pa.bool_()), ("count", pa.int64())]
)


def _as_root(tree) -> LayerOperation:
    return tree if isinstance(tree, LayerOperation) else LayerOperation(tree)


def _plan_payload(root: LayerOperation):
    """Everything the kernel needs, precomputed on the driver."""
    projection = root.projection
    if projection is None:
        raise ValueError("No map projection")
    area = root.operation_area(projection)
    window = root.window
    ty_size, tx_size = constants.TILE_YSIZE, constants.TILE_XSIZE
    tiles_y = math.ceil(window.ysize / ty_size)
    tiles_x = math.ceil(window.xsize / tx_size)

    leaves = K.collect_parquet_leaves(root)
    paddings = K.collect_leaf_paddings(root)
    slot_meta = []
    for i, leaf in enumerate(leaves):
        leaf._slot_index = i  # noqa: SLF001 — survives pickling with the tree
        axoff, ayoff = leaf.region_pixel_origin(area)
        slot_meta.append(
            {
                "pad": paddings.get(id(leaf), 0),
                "S": leaf.tile_size,
                "ayoff": ayoff,
                "axoff": axoff,
                "np_dtype": leaf.datatype.to_numpy(),
                "nodata": leaf.nodata,
                "ignore_nodata": leaf._ignore_nodata,  # noqa: SLF001
                "path": leaf.path,
                "band": leaf.band,
                "stored_tiles": leaf.stored_tiles,
                "interleaved": getattr(leaf, "interleaved", False),
                "dense": getattr(leaf, "dense", True),
            }
        )

    shared = frozenset(h for h, c in K.collect_hash_counts(root).items() if c >= 2)
    return {
        "tree": root,
        "area": area,
        "projection": projection,
        "window": window,
        "ty_size": ty_size,
        "tx_size": tx_size,
        "tiles_y": tiles_y,
        "tiles_x": tiles_x,
        "shared_hashes": shared,
        "slot_meta": slot_meta,
        "out_dtype": root.datatype.to_numpy(),
    }


PIECE_STRUCT_SQL = "struct<slot:int,py0:bigint,px0:bigint,sh:int,sw:int,p:binary>"
_PIECE_PA_TYPE = pa.struct(
    [("slot", pa.int32()), ("py0", pa.int64()), ("px0", pa.int64()),
     ("sh", pa.int32()), ("sw", pa.int32()), ("p", pa.binary())]
)

# Halo strips travel inside the payload broadcast, which every executor
# holds whole: above this many strip bytes a stencil takes the tile grid
# (each task reads its tiles' halo-grown windows itself).  At 100 TB the
# strips alone are ~1.6% of the raster — terabytes — so the broadcast must
# be size-guarded, not assumed.
_HALO_BROADCAST_MAX = 256 * 1024 * 1024


def _stored_range(payload: dict, meta: dict, tile_box: tuple[int, int, int, int],
                  pad: int) -> tuple[int, int, int, int]:
    """Stored-tile range (sy_lo, sy_hi, sx_lo, sx_hi) of a leaf that the
    tile box, grown by ``pad`` pixels, can touch."""
    s = meta["S"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    ty_lo, ty_hi, tx_lo, tx_hi = tile_box
    stored_y, stored_x = meta["stored_tiles"]
    window = payload["window"]
    y_px_lo = ty_lo * ty_size - pad + meta["ayoff"]
    y_px_hi = min((ty_hi + 1) * ty_size, window.ysize) + pad + meta["ayoff"]
    x_px_lo = tx_lo * tx_size - pad + meta["axoff"]
    x_px_hi = min((tx_hi + 1) * tx_size, window.xsize) + pad + meta["axoff"]
    return (max(y_px_lo // s, 0), min((y_px_hi - 1) // s, stored_y - 1),
            max(x_px_lo // s, 0), min((x_px_hi - 1) // s, stored_x - 1))


def _strip_rows_for_tile(out_ty, out_tx, out_struct, slot, payload, tile_box,
                         meta, sy, sx, sh, sw, buf):
    """Append the halo strips one stored tile owes its neighbours; ``buf``
    is the tile's payload, viewed as an array only when a strip is
    actually emitted."""
    s_sz = meta["S"]
    p = meta["pad"]
    ayoff, axoff = meta["ayoff"], meta["axoff"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    ty_lo, ty_hi, tx_lo, tx_hi = tile_box
    own_ty = (sy * s_sz - ayoff) // ty_size
    own_tx = (sx * s_sz - axoff) // tx_size
    data = None
    py_base = sy * s_sz
    px_base = sx * s_sz
    wy0 = py_base - ayoff  # window coords of this tile's pixels
    wx0 = px_base - axoff
    # Pad can exceed one tile (stacked/huge stencils): reach
    # ceil(p / tile) rings; the per-strip overlap test below
    # already handles arbitrary distances.
    ring_y = -(-p // ty_size)
    ring_x = -(-p // tx_size)
    for dty in range(-ring_y, ring_y + 1):
        for dtx in range(-ring_x, ring_x + 1):
            if dty == 0 and dtx == 0:
                continue
            t_ty, t_tx = own_ty + dty, own_tx + dtx
            if not (ty_lo <= t_ty <= ty_hi and tx_lo <= t_tx <= tx_hi):
                continue
            # Target's halo-grown window, in window coords.
            gy0, gy1 = t_ty * ty_size - p, t_ty * ty_size + ty_size + p
            gx0, gx1 = t_tx * tx_size - p, t_tx * tx_size + tx_size + p
            r0, r1 = max(gy0 - wy0, 0), min(gy1 - wy0, sh)
            c0, c1 = max(gx0 - wx0, 0), min(gx1 - wx0, sw)
            if r0 >= r1 or c0 >= c1:
                continue
            if data is None:
                data = np.frombuffer(buf, dtype=meta["np_dtype"]).reshape(sh, sw)
            strip = np.ascontiguousarray(data[r0:r1, c0:c1])
            out_ty.append(t_ty)
            out_tx.append(t_tx)
            out_struct.append(
                {
                    "slot": slot,
                    "py0": py_base + r0,
                    "px0": px_base + c0,
                    "sh": r1 - r0,
                    "sw": c1 - c0,
                    "p": strip.tobytes(),
                }
            )


def _halo_strips_direct(spark: SparkSession, payload: dict, slot: int,
                        tile_box: tuple[int, int, int, int]) -> DataFrame:
    """Halo exchange for an aligned stencil leaf: workers read their (file,
    row-group) assignments with the C++ parquet reader and emit only the
    edge strips each neighbouring tile needs (a few KB per tile) — the body
    payload never moves, and no full tile crosses the JVM just to have its
    edges sliced (measured ~3x cheaper than a JVM scan feeding the same
    extraction)."""
    meta = payload["slot_meta"][slot]
    band = meta["band"]
    rng = _stored_range(payload, meta, tile_box, meta["pad"])
    sy_lo, sy_hi, sx_lo, sx_hi = rng
    rows = [(f, rg) for f, rg, _ymm, _xmm
            in pq_raster._pruned_row_groups(meta["path"], band, band, rng)]

    @task_entry
    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out_ty, out_tx, out_struct = [], [], []
        for batch in batches:
            for rid in batch.column(0).to_pylist():
                f, rg = rows[rid]
                b_arr, sy_c, sx_c, sh_c, sw_c, bufs = pq_raster._decoded_row_group(f, rg)
                for i in range(len(b_arr)):
                    # Interleaved row groups hold every band of a tile.
                    if int(b_arr[i]) != band:
                        continue
                    sy, sx = int(sy_c[i]), int(sx_c[i])
                    if not (sy_lo <= sy <= sy_hi and sx_lo <= sx <= sx_hi):
                        continue
                    _strip_rows_for_tile(
                        out_ty, out_tx, out_struct, slot, payload, tile_box, meta,
                        sy, sx, int(sh_c[i]), int(sw_c[i]), bufs[i],
                    )
        if out_ty:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ty, pa.int32()),
                    pa.array(out_tx, pa.int32()),
                    pa.array(out_struct, type=_PIECE_PA_TYPE),
                ],
                names=["ty", "tx", "piece"],
            )

    return _range_of(spark, len(rows)).mapInArrow(
        extract, schema=f"ty int, tx int, piece {PIECE_STRUCT_SQL}")


def _halo_pieces(spark: SparkSession, payload: dict, slots: list[int],
                 tile_box: tuple[int, int, int, int]) -> dict:
    """Collect the halo strips of the stencil ``slots`` to the driver as
    ``{(ty, tx): [(slot, py0, px0, sh, sw, bytes), ...]}`` for the payload
    broadcast.  One Arrow collect: the strips are thousands of small
    binaries, where the py4j row path measured 0.68 s against tens of ms."""
    strips = reduce(DataFrame.unionByName,
                    [_halo_strips_direct(spark, payload, slot, tile_box) for slot in slots])
    table = strips.select("ty", "tx", "piece.*").toArrow()
    halo: dict = {}
    for ty, tx, *piece in zip(*(col.to_pylist() for col in table.columns)):
        halo.setdefault((ty, tx), []).append(tuple(piece))
    return halo


def _halo_strip_bytes(payload: dict, slot: int,
                      tile_box: tuple[int, int, int, int]) -> int:
    """Upper-bound estimate of the halo-strip volume for ``slot`` over the
    tile box: per tile, the 8 neighbour strips cover a pad-wide frame."""
    meta = payload["slot_meta"][slot]
    p = meta["pad"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    ty_lo, ty_hi, tx_lo, tx_hi = tile_box
    n_tiles = (ty_hi - ty_lo + 1) * (tx_hi - tx_lo + 1)
    frame_px = 2 * p * (ty_size + tx_size) + 4 * p * p
    return n_tiles * frame_px * np.dtype(meta["np_dtype"]).itemsize


def _manifest_rows(spark: SparkSession, payload: dict,
                   tile_box: tuple[int, int, int, int]):
    """Pyarrow-direct scan plan: (file, row-group) groups the kernel
    reads itself (C++ parquet decode inside the Python worker), skipping the
    JVM's payload decode AND the JVM->Arrow re-conversion — the two largest
    CPU+GC costs of payload-heavy scans (measured ~2x the kernel itself).

    Eligible when every leaf lies on the computation grid (equal tile size,
    whole-tile offset) of one shared stored grid, and any stencil's halo
    strips fit ``_HALO_BROADCAST_MAX``.  Several leaves must be distinct
    bands of one interleaved table (whole tiles per row group by
    construction) or dense band-pure tables with identical row-group
    sequences.  A sparse table (zero tiles dropped at write) is eligible
    alone.  Returns (manifest_meta, DataFrame) or None.
    """
    metas = payload["slot_meta"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    first = metas[0]
    for m in metas:
        aligned = (
            (m["dense"] or len(metas) == 1)
            and m["S"] == ty_size == tx_size
            and m["ayoff"] % m["S"] == 0
            and m["axoff"] % m["S"] == 0
        )
        if not (aligned
                and m["ayoff"] == first["ayoff"] and m["axoff"] == first["axoff"]
                and m["stored_tiles"] == first["stored_tiles"]):
            return None
    halo_bytes = sum(_halo_strip_bytes(payload, slot, tile_box)
                     for slot, m in enumerate(metas) if m["pad"])
    if halo_bytes > _HALO_BROADCAST_MAX:
        return None
    same_path = all(m["path"] == first["path"] for m in metas)
    bands = [m["band"] for m in metas]
    if same_path:
        if len(set(bands)) != len(bands):
            return None
        if len(metas) > 1 and not all(m["interleaved"] for m in metas):
            return None
    else:
        # Planar multi-table form: each leaf is its own (band-pure)
        # table on the SAME grid — e.g. per-channel rasters.  The leaves'
        # row groups are co-partitioned by their (identical) tile-range
        # sequences below, so every band of a tile still reaches one scan
        # task with zero shuffles — the interleaved table's property —
        # while single-band queries elsewhere decode only their own band.
        if len({(m["path"], m["band"]) for m in metas}) != len(metas):
            return None

    s = first["S"]
    ayoff, axoff = first["ayoff"], first["axoff"]
    ty_lo, ty_hi, tx_lo, tx_hi = tile_box
    rng = _stored_range(payload, first, tile_box, 0)

    if same_path:
        stats = pq_raster._pruned_row_groups(first["path"], min(bands), max(bands), rng)
        groups = [[(f, rg)] for f, rg, _ymm, _xmm in stats]
        file_slots = {"*": [(int(b), i) for i, b in enumerate(bands)]}
    else:
        # One stats pass per distinct table; all leaves must expose
        # IDENTICAL ordered (rg, tile-range) sequences (our writer is
        # deterministic, so per-channel tables of one grid do) — then
        # row group i of every table holds the same tile run, and group i
        # lists all of them.  Any divergence takes the tile grid.
        per_slot = [pq_raster._pruned_row_groups(m["path"], m["band"], m["band"], rng)
                    for m in metas]
        shape0 = [(rg, ymm, xmm) for _f, rg, ymm, xmm in per_slot[0]]
        for st in per_slot[1:]:
            if [(rg, ymm, xmm) for _f, rg, ymm, xmm in st] != shape0:
                return None
        if any(ymm is None or xmm is None for _rg, ymm, xmm in shape0):
            return None
        groups = [[(f, rg) for f, rg, _ymm, _xmm in seq] for seq in zip(*per_slot)]
        file_slots = {}
        for slot, st in enumerate(per_slot):
            band = int(metas[slot]["band"])
            for f, _rg, _ymm, _xmm in st:
                file_slots.setdefault(f, []).append((band, slot))

    # Box tiles with no stored row exist as zeros: one (ty, tx) entry
    # each.  A dense table's coverage is a closed-form rectangle; a
    # sparse one's is the key columns of the pruned row groups (no payload
    # decode).
    off_y, off_x = ayoff // s, axoff // s
    if first["dense"]:
        stored_y, stored_x = first["stored_tiles"]

        def stored(ty: int, tx: int) -> bool:
            return -off_y <= ty < stored_y - off_y and -off_x <= tx < stored_x - off_x
    else:
        present = set()
        for f, rg, _ymm, _xmm in stats:
            keys = pq_raster._pq_handle(f).read_row_group(
                rg, columns=["band", "tile_y", "tile_x"])
            for b, sy, sx in zip(*(col.to_pylist() for col in keys.columns)):
                if b == first["band"]:
                    present.add((sy - off_y, sx - off_x))

        def stored(ty: int, tx: int) -> bool:
            return (ty, tx) in present
    missing = [(ty, tx)
               for ty in range(ty_lo, ty_hi + 1)
               for tx in range(tx_lo, tx_hi + 1)
               if not stored(ty, tx)]

    # The scan is a JVM range over group ids: a group (one row group per
    # leaf table) or a missing tile per id, looked up in this broadcast
    # meta by the kernel.  An id is the unit a task reads, so every slot
    # of a stored tile reaches one task by construction, and each task
    # runs one Python worker (a parallelized Python RDD would add a
    # second one per task just to emit the ids).
    meta = {
        "file_slots": file_slots,
        "groups": groups,
        "missing": missing,
        "s": int(s), "ayoff": int(ayoff), "axoff": int(axoff),
        "box": tuple(int(v) for v in tile_box),
    }
    return meta, _range_of(spark, len(groups) + len(missing))


def _range_of(spark: SparkSession, n: int) -> DataFrame:
    """Ids ``0..n-1`` as a JVM range, in contiguous runs over up to twice
    the default parallelism: a task's ids are neighbouring tiles or row
    groups, which its ranged-read cache rewards."""
    parallelism = max(spark.sparkContext.defaultParallelism * 2, 1)
    return spark.range(0, n, numPartitions=max(min(n, parallelism), 1))


def _base_grid(spark: SparkSession, tile_box: tuple[int, int, int, int]) -> DataFrame:
    """One ``(ty, tx)`` row per tile of the box, row-major, so each task
    gets a contiguous run of neighbouring tiles."""
    ty_lo, ty_hi, tx_lo, tx_hi = tile_box
    n_y, n_x = ty_hi - ty_lo + 1, tx_hi - tx_lo + 1
    return _range_of(spark, n_y * n_x).selectExpr(
        f"CAST({ty_lo} + id DIV {n_x} AS INT) AS ty",
        f"CAST({tx_lo} + id % {n_x} AS INT) AS tx",
    )


def _build(tree, spark: SparkSession | None, sub_window: Window | None = None):
    """Choose the plan that feeds the kernel and broadcast its payload.

    * **Manifest plan** (``_manifest_rows``) whenever every leaf lies on
      the computation grid: one table (dense or sparse), distinct bands of
      one interleaved table, or dense per-band tables with identical
      row-group sequences.  A JVM range of ids names groups of (file, row
      group) pairs, listed in the broadcast, that the kernel decodes with
      pyarrow; no JVM payload bytes, no shuffle.  Stencil
      leaves add halo strips (``_halo_pieces``), collected once and shipped
      inside the payload broadcast while they fit ``_HALO_BROADCAST_MAX``;
      the kernel merges them at assembly.
    * **Tile grid** for every other tree — no parquet leaf, unaligned
      grids, differing offsets, planar tables whose row groups differ, a
      sparse table next to other leaves, halos over the budget: one
      ``(ty, tx)`` row per tile (``_base_grid``), and the kernel reads
      each parquet leaf of its tile through ``read_region``.
    """
    spark = get_spark(spark)
    root = _as_root(tree)
    payload = _plan_payload(root)

    if sub_window is None:
        tile_box = (0, payload["tiles_y"] - 1, 0, payload["tiles_x"] - 1)
    else:
        ty_size, tx_size = payload["ty_size"], payload["tx_size"]
        tile_box = (
            max(sub_window.yoff // ty_size, 0),
            min((sub_window.ymax - 1) // ty_size, payload["tiles_y"] - 1),
            max(sub_window.xoff // tx_size, 0),
            min((sub_window.xmax - 1) // tx_size, payload["tiles_x"] - 1),
        )

    metas = payload["slot_meta"]
    manifest = _manifest_rows(spark, payload, tile_box) if metas else None
    if manifest is None:
        df = _base_grid(spark, tile_box)
    else:
        payload["manifest"], df = manifest
        padded = [slot for slot, m in enumerate(metas) if m["pad"]]
        if padded:
            payload["halo_pieces"] = _halo_pieces(spark, payload, padded, tile_box)

    bc = spark.sparkContext.broadcast(payload)
    return spark, root, payload, bc, df


def _assemble_slot(meta: dict, pieces, y0: int, x0: int, h: int, w: int):
    """Paste a tile's joined source pieces into a halo-padded window-space
    array, zero-filled, with NODATA substituted to NaN afterwards (matching
    the reference's pad-then-substitute order, ``rasters.py:343-369``).

    ``pieces``: iterable of (py0, px0, sh, sw, buffer-like) tuples, where
    (py0, px0) is the piece's absolute leaf-pixel origin.
    """
    p = meta["pad"]
    dt = meta["np_dtype"]
    oy, ox = y0 - p, x0 - p
    out = np.zeros((h + 2 * p, w + 2 * p), dtype=dt)
    for py0, px0, sh, sw, buf in pieces:
        ay = py0 - meta["ayoff"]
        ax = px0 - meta["axoff"]
        iy0, iy1 = max(ay, oy), min(ay + sh, oy + out.shape[0])
        ix0, ix1 = max(ax, ox), min(ax + sw, ox + out.shape[1])
        if iy0 >= iy1 or ix0 >= ix1:
            continue
        data = np.frombuffer(buf, dtype=dt).reshape(sh, sw)
        out[iy0 - oy : iy1 - oy, ix0 - ox : ix1 - ox] = data[
            iy0 - ay : iy1 - ay, ix0 - ax : ix1 - ax
        ]
    if not meta["ignore_nodata"] and meta["nodata"] is not None:
        out = np.where(out == meta["nodata"], float("nan"), out)
    return out, (oy, ox)


def _manifest_pieces(batch: pa.RecordBatch, man: dict, payload: dict,
                     groups: dict) -> None:
    """Manifest-mode piece collection: the worker reads its (file, row-group)
    assignments directly with pyarrow (C++ decode, zero JVM bytes)."""
    n_slots = len(payload["slot_meta"])
    file_slots = man["file_slots"]
    shared_slots = file_slots.get("*")  # same-table form: one band->slot map
    s, ayoff, axoff = man["s"], man["ayoff"], man["axoff"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    ty_lo, ty_hi, tx_lo, tx_hi = man["box"]
    man_groups, missing = man["groups"], man["missing"]
    reads = []
    for gid in batch.column(0).to_pylist():
        if gid < len(man_groups):
            reads += man_groups[gid]
        else:  # tile with no stored row: exists as zeros
            groups.setdefault(missing[gid - len(man_groups)],
                              [[] for _ in range(n_slots)])
    for f, rg in reads:
        band_slot = dict(shared_slots if shared_slots is not None
                         else file_slots[f])
        b_arr, sy, sx, sh, sw, bufs = pq_raster._decoded_row_group(f, rg)
        for j in range(len(b_arr)):
            slot = band_slot.get(int(b_arr[j]))
            if slot is None:
                continue
            ty = (int(sy[j]) * s - ayoff) // ty_size
            tx = (int(sx[j]) * s - axoff) // tx_size
            if not (ty_lo <= ty <= ty_hi and tx_lo <= tx <= tx_hi):
                continue
            acc = groups.get((ty, tx))
            if acc is None:
                acc = groups[(ty, tx)] = [[] for _ in range(n_slots)]
            acc[slot].append(
                (int(sy[j]) * s, int(sx[j]) * s, int(sh[j]), int(sw[j]), bufs[j])
            )


def _tile_results(bc, batch_iter: Iterator[pa.RecordBatch]):
    """Generator core of every kernel: yields (ty, tx, h, w, result) per tile.

    Manifest plan: the task's row groups are decoded and grouped into tiles
    with a per-partition dict (a tile's slots all arrive in one task), and
    the payloads are sliced zero-copy from the decoded Arrow buffers.  Tile
    grid: one ``(ty, tx)`` row per tile, and the kernel reads any parquet
    leaf itself (``read_region``).
    """
    # Task-scoped ranged-read cache: kernel-side leaf and mosaic reads of
    # this task's contiguous tile run reuse decoded row groups (nothing
    # survives the task — see parquet.push_read_scope).
    pq_raster.push_read_scope()
    try:
        yield from _tile_results_scoped(bc.value, batch_iter)
    finally:
        pq_raster.pop_read_scope()


def _tile_results_scoped(payload, batch_iter: Iterator[pa.RecordBatch]):
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    window = payload["window"]
    slot_meta = payload["slot_meta"]
    tree = payload["tree"]
    man = payload.get("manifest")
    halo_map = payload.get("halo_pieces", {})

    def evaluate(ty: int, tx: int, pieces_by_slot: list):
        # The manifest plan reads every slot of a stored tile in one task;
        # a partial tile means that property broke.
        filled = [bool(p) for p in pieces_by_slot]
        if any(filled) and not all(filled):
            raise RuntimeError(
                f"manifest tile ({ty},{tx}) received only "
                f"{sum(filled)}/{len(filled)} band slots — stored tile "
                "split across scan tasks (row-group/tile alignment broken)"
            )
        for h_slot, py0, px0, sh, sw, buf in halo_map.get((ty, tx), ()):
            pieces_by_slot[h_slot].append((py0, px0, sh, sw, buf))
        y0, x0 = ty * ty_size, tx * tx_size
        h = min(ty_size, window.ysize - y0)
        w = min(tx_size, window.xsize - x0)
        ctx = K.EvalContext(
            area=payload["area"],
            projection=payload["projection"],
            shared_hashes=payload["shared_hashes"],
        )
        # Slots are filled by the manifest plan only: on the tile grid
        # ``ctx.slots`` stays empty and ``eval_tree`` reads each leaf.
        for slot, pieces in enumerate(pieces_by_slot):
            ctx.slots[slot], ctx.slot_origins[slot] = _assemble_slot(
                slot_meta[slot], pieces, y0, x0, h, w)
        result = K.eval_tree(tree, ctx, x0, y0, w, h)
        result = np.asarray(result)
        if result.shape != (h, w):
            result = np.broadcast_to(result, (h, w))
        return ty, tx, h, w, result

    if man is None:
        for batch in batch_iter:
            for ty, tx in zip(batch.column("ty").to_pylist(),
                              batch.column("tx").to_pylist()):
                yield evaluate(ty, tx, [])
        return
    groups: dict[tuple, list[list]] = {}
    for batch in batch_iter:
        _manifest_pieces(batch, man, payload, groups)
    for (ty, tx), slots_acc in groups.items():
        yield evaluate(ty, tx, slots_acc)


def tiles_dataframe(tree, spark: SparkSession | None = None,
                    sub_window: Window | None = None) -> DataFrame:
    """The computation as a DataFrame of result tiles (the save/read plan)."""
    spark, root, payload, bc, df = _build(tree, spark, sub_window)
    out_dtype = payload["out_dtype"]

    @task_entry
    def compute(batches):
        # Whole-partition pass (tiles may straddle Arrow batch boundaries —
        # see aggregate.compute); results stream out in bounded chunks.
        def emit(rows):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([1] * len(rows), pa.int32()),
                    pa.array([r[0] for r in rows], pa.int32()),
                    pa.array([r[1] for r in rows], pa.int32()),
                    pa.array([r[2] for r in rows], pa.int32()),
                    pa.array([r[3] for r in rows], pa.int32()),
                    pa.array([bool(np.any(r[4])) for r in rows], pa.bool_()),
                    pa.array(
                        [np.ascontiguousarray(r[4].astype(out_dtype)).tobytes() for r in rows],
                        pa.binary(),
                    ),
                ],
                schema=_PA_TILE,
            )

        rows = []
        for row in _tile_results(bc, batches):
            rows.append(row)
            if len(rows) >= 32:
                yield emit(rows)
                rows = []
        if rows:
            yield emit(rows)

    return df.mapInArrow(compute, schema=TILE_SCHEMA)


ZONAL_SCHEMA = ("poly_id long, ty int, tx int, partial double, pcount long, "
                "pmin double, pmax double")
_PA_ZONAL = pa.schema(
    [("poly_id", pa.int64()), ("ty", pa.int32()), ("tx", pa.int32()),
     ("partial", pa.float64()), ("pcount", pa.int64()),
     ("pmin", pa.float64()), ("pmax", pa.float64())]
)


def zonal_sum(tree, polygons, spark: SparkSession | None = None,
              all_touched: bool = True) -> DataFrame:
    """(poly_id, zsum) — see ``zonal_stats`` (this is its sum column)."""
    return zonal_stats(tree, polygons, spark=spark, all_touched=all_touched
                       ).select("poly_id", "zsum")


def _zonal_fold(partials: DataFrame) -> DataFrame:
    """Combine per-(polygon, tile) partials with the engine's deterministic
    ordered fold (array_sort on (ty, tx)), bit-stable under partitioning."""
    out = partials.groupBy("poly_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("ty", "tx", "partial"))),
            F.lit(0.0),
            lambda acc, s: acc + s["partial"],
        ).alias("zsum"),
        F.sum("pcount").alias("n_pixels"),
        F.min("pmin").alias("zmin"),
        F.max("pmax").alias("zmax"),
    )
    return out.withColumn("zmean", F.col("zsum") / F.col("n_pixels"))


def _zonal_stats_distributed(tree, polygons: DataFrame,
                             spark: SparkSession | None,
                             all_touched: bool) -> DataFrame:
    """Huge-polygon-table zonal statistics: nothing polygon-sized ever
    touches the driver.

    Plan: polygon bboxes are computed DISTRIBUTED (one Arrow pass parsing
    WKT) and exploded to conservative (tile_y, tile_x, poly_id, geom_wkt)
    cover rows; the raster's result tiles and the cover are COGROUPED on
    the tile key (each side shuffles once — the raster payload shuffle is
    the unavoidable cost of a non-broadcastable polygon side), and each
    group burns its covering polygons into tile-local masks emitting the
    same partials as the broadcast path; the final combine is the shared
    deterministic ordered fold, so both paths are bit-identical."""
    import pandas as pd  # pylint: disable=C0415

    from ..sources.vector import parse_wkt_polygon, rasterize_rings  # pylint: disable=C0415

    spark = get_spark(spark)
    root = _as_root(tree)
    payload = _plan_payload(root)
    area, proj = payload["area"], payload["projection"]
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    out_dtype = payload["out_dtype"]
    xstep, ystep = proj.xstep, proj.ystep
    window = root.window
    n_ty, n_tx = -(-window.ysize // ty_size), -(-window.xsize // tx_size)
    left0, top0 = area.left, area.top

    @task_entry
    def cover_gen(batches):
        for pdf in batches:
            rows = {"tile_y": [], "tile_x": [], "poly_id": [], "geom_wkt": []}
            for pid, wkt in zip(pdf["poly_id"], pdf["geom_wkt"]):
                pts = np.vstack(parse_wkt_polygon(wkt))
                bx0, by0 = pts[:, 0].min(), pts[:, 1].min()
                bx1, by1 = pts[:, 0].max(), pts[:, 1].max()
                # Conservative pixel range (1px margin covers ALL_TOUCHED
                # edge pixels; empty burns are skipped later).
                c0 = int(np.floor((bx0 - left0) / xstep)) - 1
                c1 = int(np.floor((bx1 - left0) / xstep)) + 1
                r0 = int(np.floor((by1 - top0) / ystep)) - 1
                r1 = int(np.floor((by0 - top0) / ystep)) + 1
                tx0, tx1 = max(0, c0 // tx_size), min(n_tx - 1, c1 // tx_size)
                ty0, ty1 = max(0, r0 // ty_size), min(n_ty - 1, r1 // ty_size)
                if tx1 < tx0 or ty1 < ty0:
                    continue
                for ty in range(ty0, ty1 + 1):
                    for tx in range(tx0, tx1 + 1):
                        rows["tile_y"].append(ty)
                        rows["tile_x"].append(tx)
                        rows["poly_id"].append(int(pid))
                        rows["geom_wkt"].append(wkt)
            yield pd.DataFrame(rows)

    cover = polygons.select("poly_id", "geom_wkt").mapInPandas(
        cover_gen, schema="tile_y int, tile_x int, poly_id long, geom_wkt string"
    )
    tiles = tiles_dataframe(root, spark).select(
        "tile_y", "tile_x", "ysize", "xsize", "payload"
    )

    @task_entry
    def burn(tiles_pdf: pd.DataFrame, cover_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["poly_id", "ty", "tx", "partial", "pcount", "pmin", "pmax"]
        if not len(tiles_pdf) or not len(cover_pdf):
            return pd.DataFrame({c: [] for c in cols})
        out_rows = []
        for _, trow in tiles_pdf.iterrows():
            ty, tx = int(trow["tile_y"]), int(trow["tile_x"])
            h, w = int(trow["ysize"]), int(trow["xsize"])
            result = np.frombuffer(trow["payload"], dtype=out_dtype).reshape(h, w)
            tleft = left0 + (tx * tx_size) * xstep
            ttop = top0 + (ty * ty_size) * ystep
            mask = np.zeros((h, w), dtype=np.float64)
            for pid, wkt in zip(cover_pdf["poly_id"], cover_pdf["geom_wkt"]):
                mask[:] = 0.0
                rasterize_rings(parse_wkt_polygon(wkt), 1.0, mask, tleft, ttop,
                                xstep, ystep, all_touched=all_touched)
                sel = mask > 0
                n = int(np.count_nonzero(sel))
                if n == 0:
                    continue
                vals = result[sel]
                out_rows.append((
                    int(pid), ty, tx,
                    float(np.sum(vals, dtype=np.float64)), n,
                    float(vals.min()), float(vals.max()),
                ))
        return pd.DataFrame(out_rows, columns=cols)

    partials = (
        tiles.groupBy("tile_y", "tile_x")
        .cogroup(cover.groupBy("tile_y", "tile_x"))
        .applyInPandas(burn, schema=ZONAL_SCHEMA)
    )
    return _zonal_fold(partials)


def zonal_stats(tree, polygons, spark: SparkSession | None = None,
                all_touched: bool = True, broadcast: bool = True) -> DataFrame:
    """Per-polygon statistics of the expression in ONE distributed pass:
    ``(poly_id, zsum, n_pixels, zmin, zmax, zmean)`` — the Spark-first
    reformulation of the reference's per-species loop
    (``(expr * read_shape(poly)).sum()`` once per polygon re-scans the
    raster N times; this scans it once for every polygon and statistic).

    The polygon set (list of dicts with ``poly_id``/``geom_wkt``, or a
    DataFrame with those columns) is parsed driver-side and broadcast; each
    kernel burns only the polygons whose bbox intersects its tile into a
    tile-local mask and emits float64 partials.  The final combine uses the
    engine's deterministic ordered fold per polygon (array_sort on (ty, tx)
    structs), so results are bit-stable under any partitioning.

    The default path holds the parsed polygon set on the driver and in
    every executor — right for dim-sized zonal tables (species ranges,
    admin regions; up to ~10^5 small polygons).  For polygon tables beyond
    broadcast size, pass a DataFrame with ``broadcast=False``: covers are
    generated distributed and cogrouped with the result tiles, nothing
    polygon-sized touches the driver, and the output is bit-identical.

    Measured (bench raster ~29M px, 10 polygons, local[32]): 0.82s vs the
    loop's 8.55s — 10.4x, growing linearly with polygon count.  Results are
    bit-identical to the loop; note ALL_TOUCHED edge pixels are only stable
    for polygon edges OFF pixel boundaries (on-boundary edges are assigned
    by floating-point tie-break, which differs with the window origin —
    the same instability GDAL has).
    """
    from ..sources.vector import parse_wkt_polygon, rasterize_rings  # pylint: disable=C0415

    spark = get_spark(spark)
    if isinstance(polygons, DataFrame):
        if not broadcast:
            # Huge polygon tables: distributed cover + cogroup, nothing
            # polygon-sized on the driver (see _zonal_stats_distributed).
            return _zonal_stats_distributed(tree, polygons, spark, all_touched)
        polygons = [
            {"poly_id": r["poly_id"], "geom_wkt": r["geom_wkt"]}
            for r in polygons.select("poly_id", "geom_wkt").collect()
        ]
    parsed = []
    for f in polygons:
        rings = parse_wkt_polygon(f["geom_wkt"])
        pts = np.vstack(rings)
        parsed.append((
            int(f["poly_id"]), rings,
            (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()),
        ))
    spark2, root, payload, bc, df = _build(tree, spark)
    polys_bc = spark2.sparkContext.broadcast(parsed)

    @task_entry
    def compute(batches):
        pl = bc.value
        area, proj = pl["area"], pl["projection"]
        ty_size, tx_size = pl["ty_size"], pl["tx_size"]
        xstep, ystep = proj.xstep, proj.ystep
        out_rows = []
        for ty, tx, h, w, result in _tile_results(bc, batches):
            left = area.left + (tx * tx_size) * xstep
            top = area.top + (ty * ty_size) * ystep
            right = left + w * xstep
            bottom = top + h * ystep
            mask = None
            for pid, rings, (bx0, by0, bx1, by1) in polys_bc.value:
                if bx1 < left or bx0 >= right or by1 < bottom or by0 >= top:
                    continue
                if mask is None:
                    mask = np.zeros((h, w), dtype=np.float64)
                else:
                    mask[:] = 0.0
                rasterize_rings(rings, 1.0, mask, left, top, xstep, ystep,
                                all_touched=all_touched)
                sel = mask > 0
                n = int(np.count_nonzero(sel))
                if n == 0:
                    continue  # bbox touched the tile but no pixel center did
                vals = np.asarray(result)[sel]
                out_rows.append((
                    pid, ty, tx,
                    float(np.sum(vals, dtype=np.float64)), n,
                    float(vals.min()), float(vals.max()),
                ))
        if out_rows:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in out_rows], pa.int64()),
                    pa.array([r[1] for r in out_rows], pa.int32()),
                    pa.array([r[2] for r in out_rows], pa.int32()),
                    pa.array([r[3] for r in out_rows], pa.float64()),
                    pa.array([r[4] for r in out_rows], pa.int64()),
                    pa.array([r[5] for r in out_rows], pa.float64()),
                    pa.array([r[6] for r in out_rows], pa.float64()),
                ],
                schema=_PA_ZONAL,
            )

    partials = df.mapInArrow(compute, schema=ZONAL_SCHEMA)
    return _zonal_fold(partials)


def aggregate(tree, stat: str, spark: SparkSession | None = None) -> float:
    """Whole-layer reduction: per-tile partials inside the kernel, combined
    deterministically (sum: float64 promotion per tile, then ordered add —
    preserving the reference's accumulation semantics)."""
    assert stat in ("sum", "min", "max")
    spark, root, payload, bc, df = _build(tree, spark)

    @task_entry
    def compute(batches):
        # One _tile_results pass over the WHOLE partition: a tile's pieces
        # may straddle Arrow batch boundaries, so per-batch grouping would
        # evaluate partial tiles (silently wrong).  Partition memory is
        # bounded by maxPartitionBytes / shuffle sizing, the same contract
        # applyInPandas assumes.
        tys, txs, parts = [], [], []
        for ty, tx, _h, _w, result in _tile_results(bc, batches):
            if stat == "sum":
                # dtype=float64 accumulates identically to astype(float64)
                # (same pairwise tree, exact per-element widening) without
                # materialising a full-precision copy — at 32 cores the
                # astype's extra memory writes were the aoh scan's floor.
                partial = float(np.sum(result, dtype=np.float64))
            elif stat == "min":
                partial = float(np.min(result))
            else:
                partial = float(np.max(result))
            tys.append(ty)
            txs.append(tx)
            parts.append(partial)
        if tys:
            yield pa.RecordBatch.from_arrays(
                [pa.array(tys, pa.int32()), pa.array(txs, pa.int32()),
                 pa.array(parts, pa.float64())],
                schema=_PA_PARTIAL,
            )

    partials = df.mapInArrow(compute, schema=PARTIAL_SCHEMA)
    if stat == "min":
        return float(partials.agg(F.min("partial").alias("v")).collect()[0]["v"])
    if stat == "max":
        return float(partials.agg(F.max("partial").alias("v")).collect()[0]["v"])
    return _ordered_sum(partials)


def _ordered_sum(partials: DataFrame) -> float:
    """Sum of ``(ty, tx, partial)`` rows in a fixed IEEE addition order.

    Deterministic float addition, hierarchically: fold each tile row's
    partials in tx order inside Spark (array_sort on (tx, partial) structs +
    a left fold keeps the order fixed regardless of partitioning), then add
    the per-row sums in ty order on the driver.  Driver traffic is O(tile
    rows), not O(tiles) — at 10^8 tiles that is the difference between
    kilobytes and gigabytes."""
    per_ty = (
        partials.groupBy("ty")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tx", "partial"))),
                F.lit(0.0),
                lambda acc, s: acc + s["partial"],
            ).alias("partial")
        )
        .collect()
    )
    total = 0.0
    for r in sorted(per_ty, key=lambda r: r["ty"]):
        total += r["partial"]
    return total


UNIQUE_MAX_VALUES = 1 << 22  # driver-collect guard: ~4M distinct values


def unique(tree, return_counts: bool = False, spark: SparkSession | None = None,
           max_values: int = UNIQUE_MAX_VALUES):
    """Distinct pixel values (optionally with counts): per-tile ``np.unique``
    partials, final combine by key in Spark (NaNs grouped via explicit flag).

    The final distinct set is collected to the driver (reference parity:
    ``unique`` returns numpy arrays).  On continuous float data distinct ~=
    pixels, so the combined frame is cached post-shuffle and COUNTED before
    collecting; beyond ``max_values`` the call raises instead of silently
    OOM-ing the driver (use a classed/quantised expression, or raise the
    bound explicitly)."""
    spark, root, payload, bc, df = _build(tree, spark)

    @task_entry
    def compute(batches):
        # Whole-partition pass: tiles may straddle Arrow batch boundaries
        # (see aggregate.compute).  Partials here are tiny (distinct values).
        vals_out, nan_out, cnt_out = [], [], []
        for _ty, _tx, _h, _w, result in _tile_results(bc, batches):
            values, counts = np.unique(np.asarray(result), return_counts=True)
            values = values.astype(np.float64)
            nan_mask = np.isnan(values)
            vals_out.append(np.where(nan_mask, 0.0, values))
            nan_out.append(nan_mask)
            cnt_out.append(counts.astype(np.int64))
        if vals_out:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(vals_out), pa.float64()),
                    pa.array(np.concatenate(nan_out), pa.bool_()),
                    pa.array(np.concatenate(cnt_out), pa.int64()),
                ],
                schema=_PA_UNIQUE,
            )

    grouped = (
        df.mapInArrow(compute, schema=UNIQUE_SCHEMA)
        .groupBy("value", "is_nan")
        .agg(F.sum("count").alias("count"))
        .persist()
    )
    try:
        n_distinct = grouped.count()
        if n_distinct > max_values:
            raise ValueError(
                f"unique() would collect {n_distinct} distinct values "
                f"(> max_values={max_values}) to the driver; quantise the "
                "expression (e.g. .round()/astype) or pass a larger max_values"
            )
        combined = grouped.collect()
    finally:
        grouped.unpersist()
    pairs = sorted(
        ((float("nan") if r["is_nan"] else r["value"], r["count"]) for r in combined),
        key=lambda kv: (math.isnan(kv[0]), kv[0]),
    )
    values = np.array([v for v, _ in pairs])
    if return_counts:
        return values, np.array([c for _, c in pairs], dtype=np.int64)
    return values


def read_array(tree, x: int, y: int, width: int, height: int,
               spark: SparkSession | None = None) -> np.ndarray:
    """Materialise a window of the computation as numpy on the driver.

    Regions outside the computation window read as zeros.  Only the tiles
    overlapping the request are computed (tile-range pruning)."""
    root = _as_root(tree)
    request = Window(x, y, width, height)
    window = root.window
    full = Window(0, 0, window.xsize, window.ysize)
    overlap = Window.intersection_or_none([request, full])
    out_dtype = root.datatype.to_numpy()
    out = np.zeros((height, width), dtype=out_dtype)
    if overlap is None:
        return out
    # One Arrow transfer: a row collect() pickles every tile payload.
    table = tiles_dataframe(root, spark, sub_window=overlap).select(
        "tile_y", "tile_x", "ysize", "xsize", "payload").toArrow()
    ty_size, tx_size = constants.TILE_YSIZE, constants.TILE_XSIZE
    payloads = table.column("payload")
    keys = zip(*(table.column(c).to_pylist() for c in ("tile_y", "tile_x", "ysize", "xsize")))
    for i, (tile_y, tile_x, ysize, xsize) in enumerate(keys):
        tile = np.frombuffer(payloads[i].as_buffer(), dtype=out_dtype).reshape(ysize, xsize)
        ty0, tx0 = tile_y * ty_size, tile_x * tx_size
        iy0, iy1 = max(ty0, overlap.yoff), min(ty0 + ysize, overlap.ymax)
        ix0, ix1 = max(tx0, overlap.xoff), min(tx0 + xsize, overlap.xmax)
        if iy0 >= iy1 or ix0 >= ix1:
            continue
        out[iy0 - y : iy1 - y, ix0 - x : ix1 - x] = tile[iy0 - ty0 : iy1 - ty0, ix0 - tx0 : ix1 - tx0]
    return out


# zstd level for raster-table sinks.  Level 1 measured BOTH faster (2.04s vs
# 2.28s for a 2.3 GB write at sf1.0) and smaller (447 MB vs 540 MB) than
# parquet-java's default level 3 on integer tile payloads — the byte-planar
# repetition of raster data rewards the fast match finder.
_SAVE_ZSTD_LEVEL = 1


def _write_bands(roots: list, path: str, spark: SparkSession,
                 sparse: bool = False) -> None:
    """The one raster-table sink: expression ``i`` becomes band ``i + 1``
    of the table at ``path``, then the metadata and tile manifest follow.

    One append-mode write per band, NO shuffle: each band's tile plan emits
    rows clustered by (tile_y, tile_x) — manifest row groups or a JVM range
    of tile ids, in contiguous runs per task — and the band is constant per
    file, so parquet row-group stats give readers tile pruning without a
    payload shuffle + Tungsten sort of multi-MB rows (measured 10x the whole
    job's cost).  Atomicity: the reader requires _raster_meta.json, which is
    written only after every band's job commits — an interrupted save leaves
    no readable table.  ``sparse`` drops all-zero tiles."""
    if constants.TILE_YSIZE != constants.TILE_XSIZE:
        # write_meta records ONE tile_size, so non-square computation tiles
        # would be read back on a wrong grid (every tile column displaced).
        raise ValueError("save requires square computation tiles")
    for i, r in enumerate(roots):
        tiles = tiles_dataframe(r, spark)
        if len(roots) > 1:
            # A literal band is a non-null (``required``) parquet column; a
            # one-band table keeps the kernel's nullable band of 1, so both
            # write the same bytes as their former separate writers.
            tiles = tiles.withColumn("band", F.lit(i + 1))
        if sparse:
            tiles = tiles.where("nonzero")
        (
            tiles.write.mode("overwrite" if i == 0 else "append")
            .option("compression", "zstd")
            .option("parquet.compression.codec.zstd.level", _SAVE_ZSTD_LEVEL)
            # bounded row groups so readers can split files finer than the
            # writer's task count
            .option("parquet.block.size", 8 * 1024 * 1024)
            .parquet(path)
        )
    os.makedirs(path, exist_ok=True)
    pq_raster.write_meta(
        path,
        roots[0].operation_area(roots[0].projection),
        roots[0].datatype,
        None,
        constants.TILE_YSIZE,
        bands=len(roots),
        dense=not sparse,
    )
    pq_raster.write_tile_manifest(path)


def save_multiband(trees: list, path: str, spark: SparkSession | None = None) -> None:
    """Write several expressions as bands 1..N of one raster table (the
    analog of multiband GeoTIFF output, reference ``_core.py:314-414``).
    All bands must share projection, extent and dtype; each band's tile plan
    is an independent Spark job unioned into one atomic write."""
    roots = [_as_root(t) for t in trees]
    if len({r.window for r in roots}) != 1:
        raise ValueError("All bands must share the same extent/window")
    if len({r.datatype for r in roots}) != 1:
        raise ValueError("All bands must share one datatype (use as_type to align)")
    _write_bands(roots, path, get_spark(spark))


def save(tree, path: str, and_sum: bool = False, sparse: bool = False,
         spark: SparkSession | None = None):
    """Write the computation as a parquet raster table (atomic via Spark's
    job-commit protocol), optionally also returning the pixel sum.

    ``sparse=True`` drops all-zero tiles (the GeoTIFF SPARSE_OK analog);
    readers treat missing tiles as zeros."""
    spark = get_spark(spark)
    root = _as_root(tree)
    _write_bands([root], path, spark, sparse=sparse)
    if not and_sum:
        return None
    # Distributed partial sums over the freshly written table (re-reading
    # the compressed output beats persist(): caching wide binary rows in
    # local mode measured erratically 10-20x slower), combined by the same
    # ordered fold as ``aggregate(sum)``.
    dt = root.datatype.to_numpy()

    @task_entry
    def _partials(batches):
        for batch in batches:
            tys = batch.column("tile_y").to_numpy()
            txs = batch.column("tile_x").to_numpy()
            sums = [
                float(np.sum(np.frombuffer(buf.as_py(), dtype=dt), dtype=np.float64))
                for buf in batch.column("payload")
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(tys, pa.int32()), pa.array(txs, pa.int32()),
                 pa.array(sums, pa.float64())],
                schema=_PA_PARTIAL,
            )

    return _ordered_sum(spark.read.parquet(path)
                        .select("tile_y", "tile_x", "payload")
                        .mapInArrow(_partials, PARTIAL_SCHEMA))
