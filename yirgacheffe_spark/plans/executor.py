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
     them to tasks, and workers decode them through the task's read scope
     with pyarrow — no JVM payload decode, no shuffle.  A stencil's leaf
     is read like a tile-grid leaf: its halo-grown window, in the task,
     from the row groups the scope holds or decodes.
   * the **tile grid** for every other tree, including one with no parquet
     leaf: a JVM range of tile ids, and the kernel reads each parquet leaf
     of its tile in-process (``ParquetRasterLayer.read_window`` over the
     task's decoded-row-group cache), exactly as the ``evaluate_window``
     oracle does.
2. **Execute (cluster)** — one ``mapInArrow`` kernel per stage evaluates the
   *whole* numpy expression tree per tile (operator fusion, per-tile CSE),
   emitting per-tile aggregate partials, or result tiles that ``save``'s
   tasks write to parquet themselves (the sink, ``_write_bands``: one job
   per band, no tile crosses to the JVM, and the driver commits the files
   its collect returned once every band's job has succeeded).  The tile
   grid decodes the row groups of each tile that its read scope lacks
   together, on one thread per core the caller owns: several in
   ``read_array`` on the driver, one in a task, where Spark already runs a
   task per core.
   sum/min/max are one Spark job, a stencil's too: they collect their
   ``(ty, tx, partial)`` rows with one Arrow collect and fold them on the
   driver in a fixed order.  unique combines its per-tile value counts by
   key in Spark and collects at most ``max_values + 1`` of them through
   one limit (at most two jobs: the combine's shuffle stage and the
   collect).
   ``read_array`` submits no job: it runs the same kernel over the
   window's tiles of the tile grid in the calling process, one tile after
   another, because its output is driver-resident anyway.  ``to_numpy``
   and ``show`` read the whole window this way, so on a large raster they
   use one driver core, not the cluster.

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
shuffles a payload.  sum/min/max bring one 16-byte ``(ty, tx, partial)``
row per tile to the driver, so their driver memory grows with the number
of tiles (see ``_ordered_sum`` for the bound).  unique brings at most
``max_values + 1`` combined rows.  ``save`` brings one row per task (its
file and tile count; with ``and_sum`` also its tiles' partials).  Its tasks
write straight into the destination's ``_temporary`` directory, so like
the readers, which open part files by path, the sink needs the table on a
path that every executor and the driver see (a POSIX mount, not an object
store URL).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
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


def _manifest_rows(spark: SparkSession, payload: dict,
                   tile_box: tuple[int, int, int, int]):
    """Pyarrow-direct scan plan: (file, row-group) groups the kernel
    reads itself (C++ parquet decode inside the Python worker), skipping the
    JVM's payload decode AND the JVM->Arrow re-conversion — the two largest
    CPU+GC costs of payload-heavy scans (measured ~2x the kernel itself).

    Eligible when every leaf lies on the computation grid (equal tile size,
    whole-tile offset) of one shared stored grid; a stencil does not
    change this.  Several leaves must be distinct bands of one interleaved
    table (whole tiles per row group by construction) or dense band-pure
    tables with identical row-group sequences.  A sparse table (zero tiles
    dropped at write) is eligible alone.  Returns (manifest_meta,
    DataFrame) or None.
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
    groups, which its read scope rewards — neighbouring tiles share row
    groups, and a stencil's halo reads find most of theirs decoded."""
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


def _build(tree, spark: SparkSession | None):
    """Choose the plan that feeds the kernel over every tile of the
    computation window, and broadcast its payload.

    * **Manifest plan** (``_manifest_rows``) whenever every leaf lies on
      the computation grid: one table (dense or sparse), distinct bands of
      one interleaved table, or dense per-band tables with identical
      row-group sequences.  A JVM range of ids names groups of (file, row
      group) pairs, listed in the broadcast, that the kernel decodes with
      pyarrow; no JVM payload bytes, no shuffle.  A stencil leaf is not
      assembled from them: the kernel reads its halo-grown window through
      ``read_region``, as on the tile grid.
    * **Tile grid** for every other tree — no parquet leaf, unaligned
      grids, differing offsets, planar tables whose row groups differ, a
      sparse table next to other leaves: one
      ``(ty, tx)`` row per tile (``_base_grid``), and the kernel reads
      each parquet leaf of its tile through ``read_region``.
    """
    spark = get_spark(spark)
    root = _as_root(tree)
    payload = _plan_payload(root)
    tile_box = (0, payload["tiles_y"] - 1, 0, payload["tiles_x"] - 1)
    metas = payload["slot_meta"]
    manifest = _manifest_rows(spark, payload, tile_box) if metas else None
    if manifest is None:
        df = _base_grid(spark, tile_box)
    else:
        payload["manifest"], df = manifest

    bc = spark.sparkContext.broadcast(payload)
    return spark, root, payload, bc, df


def _assemble_slot(meta: dict, pieces, y0: int, x0: int, h: int, w: int):
    """Paste a tile's source pieces into a window-space array, zero-filled,
    with NODATA substituted to NaN afterwards (matching the reference's
    pad-then-substitute order, ``rasters.py:343-369``).

    ``pieces``: iterable of (py0, px0, sh, sw, buffer-like) tuples, where
    (py0, px0) is the piece's absolute leaf-pixel origin.
    """
    dt = meta["np_dtype"]
    out = np.zeros((h, w), dtype=dt)
    for py0, px0, sh, sw, buf in pieces:
        ay = py0 - meta["ayoff"]
        ax = px0 - meta["axoff"]
        iy0, iy1 = max(ay, y0), min(ay + sh, y0 + h)
        ix0, ix1 = max(ax, x0), min(ax + sw, x0 + w)
        if iy0 >= iy1 or ix0 >= ix1:
            continue
        data = np.frombuffer(buf, dtype=dt).reshape(sh, sw)
        out[iy0 - y0 : iy1 - y0, ix0 - x0 : ix1 - x0] = data[
            iy0 - ay : iy1 - ay, ix0 - ax : ix1 - ax
        ]
    if not meta["ignore_nodata"] and meta["nodata"] is not None:
        out = np.where(out == meta["nodata"], float("nan"), out)
    return out, (y0, x0)


def _manifest_pieces(batch: pa.RecordBatch, man: dict, payload: dict,
                     groups: dict) -> None:
    """Manifest-mode piece collection: the worker reads its (file, row-group)
    assignments directly with pyarrow (C++ decode, zero JVM bytes), through
    the task's read scope, where a stencil leaf's halo reads find them."""
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
        b_arr, sy, sx, sh, sw, bufs = pq_raster.scoped_row_group(f, rg)
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


def _tile_results(payload, batch_iter: Iterator[pa.RecordBatch]):
    """Generator core of every kernel: yields (ty, tx, h, w, result) per tile.

    Manifest plan: the task's row groups are decoded and grouped into tiles
    with a per-partition dict (a tile's slots all arrive in one task), and
    the payloads are sliced zero-copy from the decoded Arrow buffers; a
    stencil leaf is read as on the tile grid.  Tile grid: one ``(ty, tx)``
    row per tile, and the kernel reads any parquet leaf itself
    (``read_region``, halo-grown by the leaf's pad).  Kernels pass their
    broadcast payload; ``read_array`` runs it in the calling process.
    """
    # Read scope: leaf and mosaic reads of this run of tiles reuse decoded
    # row groups (nothing survives the run — see parquet.push_read_scope).
    pq_raster.push_read_scope()
    try:
        yield from _tile_results_scoped(payload, batch_iter)
    finally:
        pq_raster.pop_read_scope()


def _tile_results_scoped(payload, batch_iter: Iterator[pa.RecordBatch]):
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    window = payload["window"]
    slot_meta = payload["slot_meta"]
    tree = payload["tree"]
    man = payload.get("manifest")

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
        y0, x0 = ty * ty_size, tx * tx_size
        h = min(ty_size, window.ysize - y0)
        w = min(tx_size, window.xsize - x0)
        ctx = K.EvalContext(
            area=payload["area"],
            projection=payload["projection"],
            shared_hashes=payload["shared_hashes"],
        )
        # The manifest plan fills the slots of its unpadded leaves.  A
        # stencil's leaf, and every leaf on the tile grid, stays out of
        # ``ctx.slots``: ``eval_tree`` reads its (halo-grown) window through
        # ``read_region``, from the row groups this task's scope holds.
        for slot, pieces in enumerate(pieces_by_slot):
            if not slot_meta[slot]["pad"]:
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
                _prefetch_tile(payload, ty, tx)
                yield evaluate(ty, tx, [])
        return
    groups: dict[tuple, list[list]] = {}
    for batch in batch_iter:
        _manifest_pieces(batch, man, payload, groups)
    for (ty, tx), slots_acc in groups.items():
        yield evaluate(ty, tx, slots_acc)


def _prefetch_tile(payload: dict, ty: int, tx: int) -> None:
    """Fill the read scope, before tile (ty, tx) of the tile grid is
    evaluated, with the row groups its parquet leaves read (halo-grown by
    each leaf's pad), decoding those not yet in the scope together
    (``parquet.prefetch_row_groups``).  The leaves' ``read_window`` calls
    then find them there."""
    keys = []
    for meta in payload["slot_meta"]:
        rng = _stored_range(payload, meta, (ty, ty, tx, tx), meta["pad"])
        if rng[0] <= rng[1] and rng[2] <= rng[3]:
            keys += [(f, rg) for f, rg, _ymm, _xmm in pq_raster._pruned_row_groups(
                meta["path"], meta["band"], meta["band"], rng)]
    if keys:
        pq_raster.prefetch_row_groups(keys)


def _tile_batch(rows: list) -> pa.RecordBatch:
    """``(band, ty, tx, h, w, nonzero, payload)`` rows as one batch of
    result tiles (``_PA_TILE``)."""
    return pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*rows), _PA_TILE)],
        schema=_PA_TILE)


def _tile_rows(tiles, out_dtype, band: int = 1):
    """The result-tile row of each ``(ty, tx, h, w, result)`` kernel tile:
    its payload is the result cast to ``out_dtype``, and ``nonzero`` says
    whether any pixel of the result is."""
    for ty, tx, h, w, result in tiles:
        yield (band, ty, tx, h, w, bool(np.any(result)),
               np.ascontiguousarray(result.astype(out_dtype)).tobytes())


def tiles_dataframe(tree, spark: SparkSession | None = None) -> DataFrame:
    """The computation as a DataFrame of result tiles, one row per tile of
    the computation window (the save plan)."""
    spark, root, payload, bc, df = _build(tree, spark)
    out_dtype = payload["out_dtype"]

    @task_entry
    def compute(batches):
        # Whole-partition pass (tiles may straddle Arrow batch boundaries —
        # see aggregate.compute); results stream out in bounded chunks.
        rows = []
        for row in _tile_rows(_tile_results(bc.value, batches), out_dtype):
            rows.append(row)
            if len(rows) >= 32:
                yield _tile_batch(rows)
                rows = []
        if rows:
            yield _tile_batch(rows)

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
        for ty, tx, h, w, result in _tile_results(bc.value, batches):
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
        for ty, tx, _h, _w, result in _tile_results(bc.value, batches):
            if stat == "sum":
                # dtype=float64 accumulates identically to astype(float64)
                # (same pairwise tree, exact per-element widening) without
                # materialising a full-precision copy — at 32 cores the
                # astype's extra memory writes were the aoh scan's floor.
                partial = float(np.sum(result, dtype=np.float64))
            elif stat == "min":
                # NaN only when the whole tile is: a NaN pixel (say, a
                # nodata one) must not hide the tile's numbers.
                partial = float(np.fmin.reduce(result, axis=None))
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

    ty, tx, part = _collect_partials(df.mapInArrow(compute, schema=PARTIAL_SCHEMA))
    n_y, n_x = payload["tiles_y"], payload["tiles_x"]
    # One partial per tile of the window, or the scan lost (or doubled) a
    # stored tile — e.g. a tile manifest that no longer lists a row group
    # would otherwise read as zeros.
    if not np.array_equal(ty.astype(np.int64) * n_x + tx, np.arange(n_y * n_x)):
        raise RuntimeError(
            f"{stat}() collected {len(part)} tile partials for the "
            f"{n_y * n_x} tiles of the computation window: the scan lost or "
            "repeated a stored tile (is the tile manifest stale?)")
    if stat == "min":
        # Spark's ordering over the pixels: NaN sorts above every number,
        # so min skips NaN unless every pixel is NaN...
        nums = part[~np.isnan(part)]
        return float(nums.min()) if nums.size else float("nan")
    if stat == "max":
        # ...and max is NaN as soon as one pixel is.
        return float(part.max())
    return _ordered_sum(ty, part)


def _collect_partials(partials: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The ``(ty, tx, partial)`` rows of a kernel as numpy columns, sorted
    by (ty, tx): one Arrow collect, so the action is one Spark job."""
    table = partials.toArrow()
    return _sorted_partials(*(table.column(c).to_numpy() for c in ("ty", "tx", "partial")))


def _sorted_partials(ty: np.ndarray, tx: np.ndarray, part: np.ndarray):
    order = np.lexsort((tx, ty))
    return ty[order], tx[order], part[order]


def _ordered_sum(ty: np.ndarray, part: np.ndarray) -> float:
    """Sum of the partials of ``(ty, tx, partial)`` rows sorted by (ty, tx)
    (``_collect_partials``) in a fixed IEEE addition order: per tile row, a
    left fold in ascending ``tx`` (``np.cumsum`` adds sequentially); then a
    left fold from 0.0 over the row sums in ascending ``ty``.  The order
    depends on tile coordinates only, so the sum is bit-stable under any
    partitioning.

    The fold runs on the driver over one collect of the partials.  The
    trade: folding each tile row inside Spark first (a ``groupBy`` on
    ``ty``) brought one value per tile row to the driver, but cost a second
    Spark job on every sum; here driver memory grows with the number of
    tiles instead, about 60 bytes per tile at peak (the Arrow collect, its
    numpy columns and the sorted copies).  That is accepted up to about
    10^7 tiles (~0.6 GB; 2.6e12 pixels at 512-pixel tiles), beyond which
    the per-row fold would have to move back into Spark."""
    total = 0.0
    starts = np.flatnonzero(np.diff(ty, prepend=ty[:1] - 1))
    for a, b in zip(starts.tolist(), starts[1:].tolist() + [len(ty)]):
        total += float(np.cumsum(part[a:b])[-1])
    return total


UNIQUE_MAX_VALUES = 1 << 22  # driver-collect guard: ~4M distinct values


def unique(tree, return_counts: bool = False, spark: SparkSession | None = None,
           max_values: int = UNIQUE_MAX_VALUES):
    """Distinct pixel values (optionally with counts): per-tile ``np.unique``
    partials, final combine by key in Spark (NaNs grouped via explicit flag).

    The final distinct set is collected to the driver (reference parity:
    ``unique`` returns numpy arrays).  On continuous float data distinct ~=
    pixels, so the combined frame is collected through ``limit(max_values
    + 1)`` in one Arrow collect: the driver never holds more than that many
    rows, and when all of them arrive the call raises instead of silently
    OOM-ing the driver (use a classed/quantised expression, or raise the
    bound explicitly).  The combine stays in Spark for that bound: folding
    per-tile partials on the driver measured no faster and holds every
    tile's distinct values at once."""
    spark, root, payload, bc, df = _build(tree, spark)

    @task_entry
    def compute(batches):
        # Whole-partition pass: tiles may straddle Arrow batch boundaries
        # (see aggregate.compute).  Partials here are tiny (distinct values).
        vals_out, nan_out, cnt_out = [], [], []
        for _ty, _tx, _h, _w, result in _tile_results(bc.value, batches):
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
    )
    # One action: the limit keeps the driver bound without a count first.
    table = grouped.limit(max_values + 1).toArrow()
    if table.num_rows > max_values:
        raise ValueError(
            f"unique() would collect more than max_values={max_values} "
            "distinct values to the driver; quantise the expression (e.g. "
            ".round()/astype) or pass a larger max_values"
        )
    value, is_nan, count = (table.column(c).to_numpy()
                            for c in ("value", "is_nan", "count"))
    n_px = payload["window"].xsize * payload["window"].ysize
    if int(count.sum()) != n_px:  # a lost stored tile, as in ``aggregate``
        raise RuntimeError(
            f"unique() counted {int(count.sum())} of the {n_px} pixels of the "
            "computation window: the scan lost or repeated a stored tile (is "
            "the tile manifest stale?)")
    order = np.lexsort((value, is_nan))  # ascending, NaN last
    values = np.where(is_nan, np.nan, value)[order]
    if return_counts:
        return values, count[order]
    return values


def read_array(tree, x: int, y: int, width: int, height: int,
               spark: SparkSession | None = None) -> np.ndarray:
    """Materialise a window of the computation as numpy on the driver.

    Regions outside the computation window read as zeros.  The window's
    tiles are evaluated in the calling process, one after another, with no
    Spark job: the kernel of the tile grid runs over exactly the tiles
    overlapping the request and reads each leaf of a tile itself (stencils
    read their halo-grown leaf windows), inside one read scope so
    neighbouring tiles share decoded row groups; the row groups a tile
    still lacks are decoded together, one thread per core, before it is
    evaluated.  The output is driver-resident anyway, and the work is what
    the window covers: a window of a few tiles costs milliseconds, while a
    whole-raster read (``to_numpy``, ``show``) evaluates every tile on one
    driver core.  ``spark`` is accepted for API parity and not used."""
    del spark
    root = _as_root(tree)
    request = Window(x, y, width, height)
    window = root.window
    full = Window(0, 0, window.xsize, window.ysize)
    overlap = Window.intersection_or_none([request, full])
    out = np.zeros((height, width), dtype=root.datatype.to_numpy())
    if overlap is None:
        return out
    payload = _plan_payload(root)
    ty_size, tx_size = payload["ty_size"], payload["tx_size"]
    tys = range(overlap.yoff // ty_size, (overlap.ymax - 1) // ty_size + 1)
    txs = range(overlap.xoff // tx_size, (overlap.xmax - 1) // tx_size + 1)
    grid = pa.RecordBatch.from_arrays(
        [pa.array([ty for ty in tys for _ in txs], pa.int32()),
         pa.array([tx for _ in tys for tx in txs], pa.int32())],
        names=["ty", "tx"])
    for ty, tx, h, w, tile in _tile_results(payload, [grid]):
        ty0, tx0 = ty * ty_size, tx * tx_size
        iy0, iy1 = max(ty0, overlap.yoff), min(ty0 + h, overlap.ymax)
        ix0, ix1 = max(tx0, overlap.xoff), min(tx0 + w, overlap.xmax)
        out[iy0 - y : iy1 - y, ix0 - x : ix1 - x] = \
            tile[iy0 - ty0 : iy1 - ty0, ix0 - tx0 : ix1 - tx0]
    return out


# One row per sink task: the staged file it wrote (null when it wrote no
# tile) and the number of tiles its kernel produced, written or, in a sparse
# save, dropped as all-zero; for ``save(and_sum=True)`` also the ``(ty, tx,
# partial)`` of every tile it wrote.
SINK_SCHEMA = "file string, tiles long"
SINK_SUM_SCHEMA = f"{SINK_SCHEMA}, ty array<int>, tx array<int>, partial array<double>"
_PA_SINK = pa.schema(
    [("file", pa.string()), ("tiles", pa.int64())])
_PA_SINK_SUM = pa.schema(
    [*_PA_SINK, ("ty", pa.list_(pa.int32())), ("tx", pa.list_(pa.int32())),
     ("partial", pa.list_(pa.float64()))])


def _sink_band(root, band: int, staging: str, spark: SparkSession,
               sparse: bool, and_sum: bool) -> tuple[pa.Table, int]:
    """Band ``band`` of a save: one ``mapInArrow`` over the tile plan of
    ``root`` whose every task writes its result tiles to its own parquet
    file under ``staging`` with pyarrow, named by partition and attempt, so
    a retried task never writes over the file of the attempt it replaces.
    Returns the tasks' ``_PA_SINK`` rows, collected in one Arrow collect
    (one Spark job), and the number of tiles of the computation window."""
    spark, root, payload, bc, df = _build(root, spark)
    out_dtype = payload["out_dtype"]
    schema = _PA_SINK_SUM if and_sum else _PA_SINK
    group = pq_raster.row_group_tiles(
        payload["ty_size"] * payload["tx_size"] * np.dtype(out_dtype).itemsize)

    @task_entry
    def sink(batches):
        from pyspark import TaskContext  # pylint: disable=C0415

        ctx = TaskContext.get()
        name = f"part-{band:05d}-{ctx.partitionId():05d}-{ctx.attemptNumber()}.parquet"
        writer = None
        tiles = 0
        rows, tys, txs, parts = [], [], [], []
        try:
            for row in _tile_rows(_tile_results(bc.value, batches), out_dtype, band):
                tiles += 1
                if sparse and not row[5]:
                    continue
                if writer is None:
                    writer = pq_raster.open_tile_writer(
                        os.path.join(staging, name), _PA_TILE)
                rows.append(row)
                if and_sum:  # the partial of the very bytes written
                    tys.append(row[1])
                    txs.append(row[2])
                    parts.append(float(np.sum(np.frombuffer(row[6], dtype=out_dtype),
                                              dtype=np.float64)))
                if len(rows) == group:
                    writer.write_batch(_tile_batch(rows))
                    rows = []
            if rows:
                writer.write_batch(_tile_batch(rows))
        finally:
            if writer is not None:
                writer.close()
        out = [name if writer is not None else None, tiles]
        if and_sum:
            out += [tys, txs, parts]
        yield pa.RecordBatch.from_arrays(
            [pa.array([v], f.type) for v, f in zip(out, schema)], schema=schema)

    table = df.mapInArrow(sink, SINK_SUM_SCHEMA if and_sum else SINK_SCHEMA).toArrow()
    return table, payload["tiles_y"] * payload["tiles_x"]


def _remove_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def _write_bands(roots: list, path: str, spark: SparkSession,
                 sparse: bool = False, and_sum: bool = False) -> float | None:
    """The one raster-table sink: expression ``i`` becomes band ``i + 1``
    of the table at ``path``; returns the pixel sum of band 1 when
    ``and_sum``.  ``sparse`` drops all-zero tiles.

    Each band is one Spark job (``_sink_band``) and NO shuffle: its tasks
    write their runs of tiles, clustered by (tile_y, tile_x), in row groups
    of ``parquet.row_group_tiles`` tiles (``parquet.open_tile_writer``), to
    ``path/_temporary/<job>/``.
    The result tiles never cross to the JVM.  Once every band's job has
    succeeded, the driver checks the tile counts (every tile of the window
    written, or dropped as all-zero by a sparse save) and commits only the
    files its collect returned: it moves them into ``path`` under names
    unique to this save, removes the previous table's part files and the
    staging directory, and writes ``_raster_meta.json``, then the tile
    manifest, each by rename.  Until then the previous table stays whole
    and readable; a failed job or count leaves it as it was, with no
    staging directory.  A reader that overlaps the commit reads the old
    table or the new one (its read scope pins one manifest) or fails on a
    removed file.  Writer and readers assume a POSIX-visible ``path``."""
    import pyarrow.compute as pc  # pylint: disable=C0415

    if constants.TILE_YSIZE != constants.TILE_XSIZE:
        # write_meta records ONE tile_size, so non-square computation tiles
        # would be read back on a wrong grid (every tile column displaced).
        raise ValueError("save requires square computation tiles")
    job = uuid.uuid4().hex
    existed = os.path.isdir(path)
    temporary = os.path.join(path, "_temporary")
    staging = os.path.join(temporary, job)
    os.makedirs(staging)
    try:
        sinks = [_sink_band(r, i + 1, staging, spark, sparse, and_sum)
                 for i, r in enumerate(roots)]
        for band, (table, n_tiles) in enumerate(sinks, 1):
            produced = pc.sum(table.column("tiles")).as_py() or 0
            if produced != n_tiles:
                # E.g. a tile manifest that no longer lists a row group of
                # a dense source: its tiles were never produced.
                raise RuntimeError(
                    f"save of band {band} produced {produced} of the {n_tiles} "
                    "tiles of the computation window (written, or dropped as "
                    "all-zero): the scan lost or repeated a stored tile (is "
                    "the tile manifest stale?)")
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        _remove_if_empty(temporary)
        if not existed:
            _remove_if_empty(path)
        raise

    # Commit: the previous table's files are its part files, and Spark
    # writer leftovers (checksums, the success marker) of older tables.
    previous = [n for n in os.listdir(path)
                if n.endswith((".parquet", ".crc")) or n == "_SUCCESS"]
    for table, _n in sinks:
        for name in table.column("file").to_pylist():
            if name is not None:
                final = f"{name.rsplit('-', 1)[0]}-{job}.parquet"
                os.replace(os.path.join(staging, name), os.path.join(path, final))
    for name in previous:
        os.remove(os.path.join(path, name))
    shutil.rmtree(staging)
    _remove_if_empty(temporary)
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
    if not and_sum:
        return None
    # Band 1's partials, folded like ``aggregate(sum)``.
    table = sinks[0][0]
    ty, _tx, part = _sorted_partials(
        *(pc.list_flatten(table.column(c)).to_numpy() for c in ("ty", "tx", "partial")))
    return _ordered_sum(ty, part)


def save_multiband(trees: list, path: str, spark: SparkSession | None = None) -> None:
    """Write several expressions as bands 1..N of one raster table (the
    analog of multiband GeoTIFF output, reference ``_core.py:314-414``).
    All bands must share projection, extent and dtype; each band's tile plan
    is one Spark job, and the table is committed once all have succeeded
    (see ``_write_bands``)."""
    roots = [_as_root(t) for t in trees]
    if len({r.window for r in roots}) != 1:
        raise ValueError("All bands must share the same extent/window")
    if len({r.datatype for r in roots}) != 1:
        raise ValueError("All bands must share one datatype (use as_type to align)")
    _write_bands(roots, path, get_spark(spark))


def save(tree, path: str, and_sum: bool = False, sparse: bool = False,
         spark: SparkSession | None = None):
    """Write the computation as a parquet raster table, optionally also
    returning the pixel sum; either way it is one Spark job.

    The sink tasks write the table's files themselves and the driver
    commits them once the job has succeeded (see ``_write_bands``): until
    then a previous table at ``path`` stays readable, and a failed save
    leaves it as it was.  With ``and_sum`` the tasks also return each
    written tile's float64 partial, folded on the driver in the same fixed
    order as ``aggregate(sum)``.

    ``sparse=True`` drops all-zero tiles (the GeoTIFF SPARSE_OK analog);
    readers treat missing tiles as zeros."""
    return _write_bands([_as_root(tree)], path, get_spark(spark),
                        sparse=sparse, and_sum=and_sum)
