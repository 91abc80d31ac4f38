"""Compile an expression tree to a Spark plan and run terminal actions.

Physical shape of every computation:

1. **Plan (driver)** — resolve the operation area/window with the reference's
   extent algebra and split the window into a grid of tiles.  Every tree
   runs on the **tile grid** (``_build``): a bare JVM range of run ids,
   each run ``parquet.ROW_GROUP_TILES`` tile ids when the tree reads a
   parquet table, one id otherwise, halved once when the halved runs
   still fit one wave of the cores (``_run_length``, ``_base_grid``); the
   kernel expands each run into its tile ids (``_run_tiles``).  The
   tree, with its non-parquet leaves (in-memory arrays, constants,
   generated layers), ships to the kernel in a broadcast.  The kernel
   reads each parquet leaf of its tile in-process
   (``ParquetRasterLayer.read_window`` over the task's read scope, grown
   by the leaf's stencil halo), exactly as the ``evaluate_window`` oracle
   does — no JVM payload decode, no shuffle.
2. **Execute (cluster)** — one ``mapInArrow`` kernel per stage evaluates the
   *whole* numpy expression tree per tile (operator fusion, per-tile CSE),
   emitting per-tile aggregate partials, or result tiles that ``save``'s
   tasks write to parquet themselves (the sink, ``_write_bands``: one job
   per band, no tile crosses to the JVM, and the driver commits the files
   its collect returned once every band's job has succeeded).  Ahead of
   each tile, the kernel asks each parquet leaf which row groups its read
   of the tile will decode (``ParquetRasterLayer.row_groups``: the leaf
   alone maps a read onto its stored tiles; the leaves and their halos
   come from one tree walk, ``kernel.parquet_leaves``) and decodes those
   the read scope lacks, together, on one thread per core the caller
   owns: several in ``read_array`` on the driver, one in a task, where
   Spark already runs a task per core.
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
  ``spark.range`` of run ids), never from a parallelized Python RDD,
  which would start a second worker per task just to emit rows.  Every
  kernel body is wrapped in ``_worker.task_entry``, the library-wide
  Python task entry hook, so the next task on the same worker skips
  PySpark's per-task zip-archive re-read (see ``_worker``).
* Runs fitted to row groups and cores: the writers fill row groups, in
  row-major tile order, with ``parquet.row_group_tiles`` tiles (16, or 8
  or 4 for wider dtypes at 512-pixel tiles, each of which divides
  ``ROW_GROUP_TILES``), so on a window that starts at a table's first
  tile, is as wide as the table and tiles it at the computation tile
  size, a run of 16 has each row group decoded by one task, once.  A
  window too small to fill the cores with such runs gets runs of 8, so a
  16-tile row group is decoded by two tasks at the same time on cores
  that would otherwise idle (``_build`` gives the bound and where it
  fails).
  A task holds at most its read scope's row groups, whatever the table's
  size.
* Driver-side plan construction keeps py4j chatter low: a plan is one bare
  JVM range, with no projection to build, and lists no row group; the
  kernels find theirs in the indexed
  listings (manifests and footer statistics, cached per file and
  mtime_ns), so repeated terminal actions cost milliseconds of planning.

Scale notes: tiles are the unit of parallelism, so plans scale by adding
executors; no plan shuffles a result tile (``to_geotiff`` reads the grid's
partitions in turn, and ``zonal_stats`` shuffles only its per-polygon
partials).  sum/min/max bring one 16-byte ``(ty, tx, partial)``
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
from typing import Iterable, Iterator

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
    """Everything the kernel needs, precomputed on the driver: among it the
    ``(leaf, pad)`` of every parquet leaf the kernel reads on the
    computation's grid (``kernel.parquet_leaves``), and the run of tile ids
    that ``_build`` starts from: ``parquet.ROW_GROUP_TILES`` when the tree
    reads a parquet table at all, one otherwise."""
    projection = root.projection
    if projection is None:
        raise ValueError("No map projection")
    area = root.operation_area(projection)
    window = root.window
    tile = constants.TILE_SIZE
    leaves = K.parquet_leaves(root).values()
    return {
        "tree": root,
        "area": area,
        "projection": projection,
        "window": window,
        "tile": tile,
        "tiles_y": math.ceil(window.ysize / tile),
        "tiles_x": math.ceil(window.xsize / tile),
        "shared_hashes": K.shared_hashes(root),
        "leaves": [(leaf, pad) for leaf, pad in leaves if pad is not None],
        "run": pq_raster.ROW_GROUP_TILES if leaves else 1,
        "out_dtype": root.datatype.to_numpy(),
    }


def _run_length(n: int, run: int, cores: int, task_cpus: int) -> int:
    """The run length of a grid of ``n`` tiles: ``run`` halved, once, when
    the halved runs still fit one wave of the ``cores // task_cpus`` tasks
    that ``cores`` run at once."""
    if run > 1 and -(-n // (run // 2)) <= max(cores // task_cpus, 1):
        return run // 2
    return run


def _base_grid(spark: SparkSession, n: int, run: int,
               partitions: int | None = None) -> DataFrame:
    """The runs of ``run`` tile ids that cover the ``n`` tiles of a window,
    row-major, as a bare JVM range of run ids over up to ``partitions``
    partitions (twice the default parallelism unless given).  The kernel
    expands run ``r`` into tile ids ``[r * run, min(r * run + run, n))``
    (``_run_tiles``), so a task gets whole runs of neighbouring tiles, and
    the partitions, read in turn, yield every tile row-major."""
    runs = -(-n // run)
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    return spark.range(0, runs, numPartitions=max(min(runs, partitions), 1))


def _build(tree, spark: SparkSession | None, partitions: int | None = None):
    """The tile grid that feeds the kernel every tile of the computation
    window (``_base_grid``), and the kernel's broadcast payload, whose
    ``run`` is the grid's run length.  There is one plan for every tree:
    the kernel reads each parquet leaf of its tile itself, through
    ``read_window``, whatever the leaf's tile size, offset, band layout or
    sparsity.

    The run length follows the tree and the cores.  A tree that reads a
    parquet table (``kernel.parquet_leaves``: a leaf, or a mosaic or
    reprojection of one) starts from runs of ``parquet.ROW_GROUP_TILES``
    tile ids, which its read scope rewards: neighbouring tiles share row
    groups, and a stencil's halo reads find most of theirs decoded.  A tree
    that reads none has no row group to share and starts from runs of one.
    The run is then halved, once, when the halved runs still fit one wave
    of the tasks the cores run at once (``_run_length``: the default
    parallelism over ``spark.task.cpus``): 24 tiles on 4 cores run as 3
    runs of 8, where runs of 16 would leave two cores idle and let the
    16-tile task set the time of every step; a large window keeps its runs
    of 16.  Halving stops after one step, because smaller runs lose on a
    small window: on 4 cores, windows of 4 and 8 tiles in runs of 1 and 2
    had four tasks each decode a whole row group for one or two tiles,
    and their ``sum`` and ``conv2d`` sums measured slower than in one run
    of 8 (0.199 against 0.127 s at 4 tiles), while a save wrote one file
    per run.

    Decode bound: a row group of ``R`` tiles, consecutive in row-major
    order, is decoded for its own tiles by at most ``ceil(R / run) + 1``
    tasks (a stencil's halo reads add the tasks of neighbouring tile
    rows).  The writers fill row groups row-major, so when the window
    starts at a leaf's first stored tile, is as wide as the leaf, tiles it
    at the computation tile size and its row groups hold a divisor of
    ``run`` tiles, no two tasks decode one row group; a halved run splits
    a 16-tile row group between two tasks that decode it at the same time,
    on cores that would otherwise idle.  Elsewhere (an offset or clipped
    window, a sparse save, another tile size) a row group can straddle two
    runs.  The halved runs fit one wave, unlike an earlier cut that ran
    single-tile runs in 8 partitions of 3 tiles on 4 cores: two waves, up
    to six tasks decoding each 16-tile row group, and slower than runs of
    16.

    ``partitions`` caps the grid's partitions (``_base_grid``); only
    ``to_geotiff``'s gather sets it, to one a tile row."""
    spark = get_spark(spark)
    root = _as_root(tree)
    payload = _plan_payload(root)
    n = payload["tiles_y"] * payload["tiles_x"]
    run = payload["run"] = _run_length(n, payload["run"],
                                       spark.sparkContext.defaultParallelism,
                                       int(spark.conf.get("spark.task.cpus", "1")))
    df = _base_grid(spark, n, run, partitions)
    bc = spark.sparkContext.broadcast(payload)
    return spark, root, payload, bc, df


def _run_tiles(payload: dict, batches: Iterable[pa.RecordBatch]) -> Iterator[tuple[int, int]]:
    """The ``(ty, tx)`` of every tile of the runs whose ids ``batches`` of
    the tile grid hold, in order: run ``r`` covers tile ids ``[r * run,
    min(r * run + run, n))``, row-major."""
    run, n_x = payload["run"], payload["tiles_x"]
    n = payload["tiles_y"] * n_x
    for batch in batches:
        for r in batch.column("id").to_pylist():
            for i in range(r * run, min(r * run + run, n)):
                yield divmod(i, n_x)


def _tile_results(payload, tiles: Iterable[tuple[int, int]]):
    """Generator core of every kernel: yields (ty, tx, h, w, result) per
    ``(ty, tx)`` of ``tiles``, the result cast to the tree's dtype
    (``out_dtype``, see ``kernel.cast_result``), so every action sees what
    ``save`` writes.  Ahead of each tile it asks every parquet leaf of the
    payload which row groups its read of the tile, grown by the leaf's
    halo, will decode (``ParquetRasterLayer.row_groups``) and decodes those
    the read scope lacks together (``parquet.prefetch_row_groups``); the
    leaves' reads (``read_region``) then find them there.  Left to each
    leaf's own read, a tile's row groups would be decoded one leaf after
    another instead of all together.  Kernels pass
    their broadcast payload and their runs' tiles (``_run_tiles``);
    ``read_array`` runs it in the calling process over its window's
    tiles."""
    tile, window, out_dtype = payload["tile"], payload["window"], payload["out_dtype"]
    area = payload["area"]
    # Read scope: leaf and mosaic reads of this run of tiles reuse decoded
    # row groups (nothing survives the run — see parquet.push_read_scope).
    pq_raster.push_read_scope()
    try:
        for ty, tx in tiles:
            y0, x0 = ty * tile, tx * tile
            h = min(tile, window.ysize - y0)
            w = min(tile, window.xsize - x0)
            keys = [key for leaf, pad in payload["leaves"]
                    for key in leaf.row_groups(area, x0 - pad, y0 - pad,
                                               w + 2 * pad, h + 2 * pad)]
            if keys:
                pq_raster.prefetch_row_groups(keys)
            ctx = K.EvalContext(
                area=area,
                projection=payload["projection"],
                shared_hashes=payload["shared_hashes"],
            )
            result = K.cast_result(K.eval_tree(payload["tree"], ctx, x0, y0, w, h),
                                   out_dtype)
            if result.shape != (h, w):
                result = np.broadcast_to(result, (h, w))
            yield ty, tx, h, w, result
    finally:
        pq_raster.pop_read_scope()


def _tile_batch(rows: list) -> pa.RecordBatch:
    """``(band, ty, tx, h, w, nonzero, payload)`` rows as one batch of
    result tiles (``_PA_TILE``)."""
    return pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*rows), _PA_TILE)],
        schema=_PA_TILE)


def _tile_rows(tiles, out_dtype, band: int = 1):
    """The result-tile row of each ``(ty, tx, h, w, result)`` kernel tile:
    its payload is the result as ``out_dtype`` (which only a NaN-bearing
    float result of an integer tree still needs cast, see
    ``kernel.cast_result``), and ``nonzero`` says whether any pixel of the
    result is."""
    for ty, tx, h, w, result in tiles:
        yield (band, ty, tx, h, w, bool(np.any(result)),
               result.astype(out_dtype, copy=False).tobytes())


def tiles_dataframe(tree, spark: SparkSession | None = None) -> DataFrame:
    """The computation as a DataFrame of result tiles, one row per tile of
    the computation window: the tile grid's kernel, whose partitions, read
    in turn, yield the tiles row-major."""
    return _tiles(tree, spark)


def _tiles(tree, spark: SparkSession | None, partitions: int | None = None) -> DataFrame:
    """``tiles_dataframe`` over a grid of at most ``partitions`` partitions
    (``_build``)."""
    spark, root, payload, bc, df = _build(tree, spark, partitions)
    out_dtype = payload["out_dtype"]

    @task_entry
    def compute(batches):
        # Whole-partition pass (one read scope — see aggregate.compute);
        # results stream out in bounded chunks.
        rows = []
        results = _tile_results(bc.value, _run_tiles(bc.value, batches))
        for row in _tile_rows(results, out_dtype):
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


def _zonal_rows(grid: tuple, ty: int, tx: int, result: np.ndarray, polys,
                all_touched: bool) -> list:
    """The partials of result tile ``(ty, tx)`` for each ``(poly_id,
    rings)`` of ``polys``: the polygon burnt into a tile-local mask, and the
    ``(poly_id, ty, tx, sum, n, min, max)`` of the tile's pixels under it,
    for each polygon that covers any.  ``grid`` is ``(left, top, xstep,
    ystep, tile)``: where the result tiles lie."""
    from ..sources.vector import rasterize_rings  # pylint: disable=C0415

    left0, top0, xstep, ystep, tile = grid
    left = left0 + (tx * tile) * xstep
    top = top0 + (ty * tile) * ystep
    mask = np.zeros(result.shape, dtype=np.float64)
    rows = []
    for pid, rings in polys:
        mask[:] = 0.0
        rasterize_rings(rings, 1.0, mask, left, top, xstep, ystep,
                        all_touched=all_touched)
        sel = mask > 0
        n = int(np.count_nonzero(sel))
        if n == 0:
            continue  # the bbox touched the tile but no pixel did
        vals = result[sel]
        rows.append((int(pid), ty, tx, float(np.sum(vals, dtype=np.float64)), n,
                     float(vals.min()), float(vals.max())))
    return rows


def zonal_stats(tree, polygons, spark: SparkSession | None = None,
                all_touched: bool = True) -> DataFrame:
    """Per-polygon statistics of the expression in ONE distributed pass:
    ``(poly_id, zsum, n_pixels, zmin, zmax, zmean)`` — the Spark-first
    reformulation of the reference's per-species loop
    (``(expr * read_shape(poly)).sum()`` once per polygon re-scans the
    raster N times; this scans it once for every polygon and statistic).

    The polygon set (list of dicts with ``poly_id``/``geom_wkt``, or a
    DataFrame with those columns, which is collected) is parsed on the
    driver and broadcast.  The tile grid's kernel evaluates each tile, burns
    only the polygons whose bbox intersects it into a tile-local mask and
    emits float64 partials, so no raster pixel crosses a shuffle; the one
    shuffle is the fold's, of those partials by ``poly_id``.  The final
    combine uses the engine's deterministic ordered fold per polygon
    (array_sort on (ty, tx) structs), so results are bit-stable under any
    partitioning.

    Bound: the parsed polygon set is held by the driver and by each
    executor, which suits dim-sized zonal tables (species ranges, admin
    regions; 10^4 small polygons over a 64 x 64 raster in tiles of 4 take
    about 2.5 s in ``local[4]`` on 4 vCPU).  Results are bit-identical to a per-polygon burn
    over the whole grid; note ALL_TOUCHED edge pixels are only stable for
    polygon edges OFF pixel boundaries (on-boundary edges are assigned by
    floating-point tie-break, which differs with the window origin — the
    same instability GDAL has).
    """
    from ..sources.vector import parse_wkt_polygon  # pylint: disable=C0415

    spark = get_spark(spark)
    if isinstance(polygons, DataFrame):
        polygons = polygons.select("poly_id", "geom_wkt").collect()
    parsed = []
    for f in polygons:
        rings = parse_wkt_polygon(f["geom_wkt"])
        pts = np.vstack(rings)
        parsed.append((
            int(f["poly_id"]), rings,
            (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()),
        ))
    spark, root, payload, bc, df = _build(tree, spark)
    polys_bc = spark.sparkContext.broadcast(parsed)
    area, proj = payload["area"], payload["projection"]
    grid = left0, top0, xstep, ystep, tile = (
        area.left, area.top, proj.xstep, proj.ystep, payload["tile"])

    @task_entry
    def compute(batches):
        out_rows = []
        for ty, tx, h, w, result in _tile_results(bc.value, _run_tiles(bc.value, batches)):
            left = left0 + (tx * tile) * xstep
            top = top0 + (ty * tile) * ystep
            right = left + w * xstep
            bottom = top + h * ystep
            polys = [(pid, rings) for pid, rings, (bx0, by0, bx1, by1) in polys_bc.value
                     if not (bx1 < left or bx0 >= right or by1 < bottom or by0 >= top)]
            if polys:
                out_rows += _zonal_rows(grid, ty, tx, result, polys, all_touched)
        if out_rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(zip(*out_rows), _PA_ZONAL)],
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
        # One _tile_results pass over the whole partition: its runs of
        # tiles share one read scope, so a row group that several of them
        # read is decoded once.
        tys, txs, parts = [], [], []
        for ty, tx, _h, _w, result in _tile_results(bc.value,
                                                    _run_tiles(bc.value, batches)):
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
    # One partial per tile of the window, or the plan lost (or doubled) a
    # tile, which must not pass for a result.  (A dense leaf's read already
    # raises on a tile its listing lost, say from a stale tile manifest.)
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
        # Whole-partition pass (one read scope — see aggregate.compute).
        # Partials here are tiny (distinct values).
        vals_out, nan_out, cnt_out = [], [], []
        for _ty, _tx, _h, _w, result in _tile_results(bc.value,
                                                      _run_tiles(bc.value, batches)):
            values, counts = np.unique(result, return_counts=True)
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
    size = payload["tile"]
    tys = range(overlap.yoff // size, (overlap.ymax - 1) // size + 1)
    txs = range(overlap.xoff // size, (overlap.xmax - 1) // size + 1)
    tiles = [(ty, tx) for ty in tys for tx in txs]
    for ty, tx, h, w, tile in _tile_results(payload, tiles):
        ty0, tx0 = ty * size, tx * size
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
        payload["tile"] ** 2 * np.dtype(out_dtype).itemsize)

    @task_entry
    def sink(batches):
        from pyspark import TaskContext  # pylint: disable=C0415

        ctx = TaskContext.get()
        name = f"part-{band:05d}-{ctx.partitionId():05d}-{ctx.attemptNumber()}.parquet"
        writer = None
        tiles = 0
        rows, tys, txs, parts = [], [], [], []
        try:
            results = _tile_results(bc.value, _run_tiles(bc.value, batches))
            for row in _tile_rows(results, out_dtype, band):
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
                # A lost or repeated tile, as in ``aggregate``.
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
        constants.TILE_SIZE,
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
