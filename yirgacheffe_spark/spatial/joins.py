"""Distributed spatial joins over cell-indexed tables.

The extension of the layer algebra's implicit align-join to point/polygon
space (north rule): every join is *candidate generation by cell equality*
(a pruned, shuffle-friendly equi-join Catalyst can optimise) followed by an
*exact vectorised predicate* inside a pandas UDF.

Skew strategy: the polygon/query side is broadcast when small; the page side
never materialises per-row Python.  Hot cells (megacities) are handled by
``adaptive_cells`` — re-keying rows of over-full cells to child cells until
each key is below a row budget — and by ``salted`` repartition keys for
aggregate-free joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from .._worker import task_entry
from . import cells as cellindex
from ..sources.vector import parse_wkt_polygon

EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1, lng1, lat2, lng2):
    """Vectorised great-circle distance in metres."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lng2) - np.radians(lng1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def points_in_rings(lat: np.ndarray, lng: np.ndarray, rings) -> np.ndarray:
    """Vectorised even-odd point-in-polygon over a batch of points."""
    inside = np.zeros(len(lat), dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for ex0, ey0, ex1, ey1 in zip(x0, y0, x1, y1):
            if ey0 == ey1:
                continue
            ylo, yhi = (ey0, ey1) if ey0 < ey1 else (ey1, ey0)
            hits = (lat >= ylo) & (lat < yhi)
            if not hits.any():
                continue
            x_at = ex0 + (lat[hits] - ey0) * (ex1 - ex0) / (ey1 - ey0)
            flip = np.zeros(len(lat), dtype=bool)
            flip[hits] = lng[hits] < x_at
            inside ^= flip
    return inside


def _envelope_cover(wkt: str, res: int) -> np.ndarray:
    """Cells at ``res`` covering a polygon's bbox envelope — THE cover rule,
    shared by the broadcast and distributed PIP paths (a change here, e.g.
    antimeridian handling, must apply to both or they silently diverge)."""
    pts = np.vstack(parse_wkt_polygon(wkt))
    return cellindex.cells_covering_bbox(
        pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max(), res
    )


def _pip_broadcast(
    spark: SparkSession,
    pages: DataFrame,
    pairs: list[tuple],
    res: int,
    poly_id_type: str = "bigint",
) -> DataFrame:
    """Dim-sized polygon side: rings are parsed driver-side and broadcast
    once per worker; the bbox cover is derived driver-side too and, when
    small, inlined as pure JVM column algebra (``cell IN (...)`` plus a
    CASE -> array(poly_ids) explode) — no cover DataFrame, no
    broadcast-build job, no Python stage before the verify.  (The r02
    design computed the cover with mapInPandas and broadcast-joined it:
    two extra jobs per call on a dim-sized input — the measured r01->r02
    pip bench regression, 0.8s -> 1.4s.)"""
    rings_by_id = {pid: parse_wkt_polygon(wkt) for pid, wkt in pairs}
    cell_to_pids: dict[int, list] = {}
    for pid, wkt in pairs:
        for c in _envelope_cover(wkt, res):
            cell_to_pids.setdefault(int(c), []).append(pid)
    if not cell_to_pids:
        # No polygons (or none covering any cell): empty result with the
        # same shape as the join output — an empty CASE chain would
        # otherwise feed F.explode(None) and crash.
        return pages.where(F.lit(False)).withColumn(
            "poly_id", F.lit(None).cast(poly_id_type)
        )
    rings_bc = spark.sparkContext.broadcast(rings_by_id)

    if len(cell_to_pids) <= 256:  # keep the CASE chain inside codegen limits
        chain = None
        for c, pids in cell_to_pids.items():
            arr = F.array(*[F.lit(p) for p in pids])
            cond = F.col("cell") == c
            chain = F.when(cond, arr) if chain is None else chain.when(cond, arr)
        candidates = pages.where(
            F.col("cell").isin(list(cell_to_pids))
        ).withColumn("poly_id", F.explode(chain))
    else:
        cover = spark.createDataFrame(
            [(pid, c) for c, pids in cell_to_pids.items() for pid in pids],
            schema=f"poly_id {poly_id_type}, cell long",
        )
        candidates = pages.join(F.broadcast(cover), "cell", "inner")

    @pandas_udf("boolean")
    @task_entry
    def contains_bc(lat: pd.Series, lng: pd.Series,
                    poly_id: pd.Series) -> pd.Series:
        lat_v, lng_v = lat.to_numpy(), lng.to_numpy()
        pid_v = poly_id.to_numpy()
        out = np.zeros(len(lat_v), dtype=bool)
        for pid in pd.unique(pid_v):
            sel = pid_v == pid
            # lng is x, lat is y in ring coordinates.
            out[sel] = points_in_rings(lat_v[sel], lng_v[sel], rings_bc.value[pid])
        return pd.Series(out)

    return candidates.where(
        contains_bc(F.col("lat"), F.col("lng"), F.col("poly_id"))
    )


def point_in_polygon_join_df(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    broadcast: bool = True,
) -> DataFrame:
    """Exact (page, polygon) containment pairs with a DataFrame polygon side.

    Plan: the cover table (poly_id, cell) is computed DISTRIBUTED from the
    polygon table (one Arrow batch pass: parse WKT, envelope cells); pages ⋈
    cover on ``cell`` prunes candidates (broadcast hash join when the
    polygon side is dim-sized — pass broadcast=False for huge polygon tables
    and let AQE pick the strategy); candidates then re-join the polygon
    geometry and a vectorised ray-cast verifies each one (per-batch parse
    cache: each polygon's WKT is parsed once per Arrow batch, points verify
    in bulk).  Output rows are exact (no envelope false-positives).

    ``pages`` must carry ``lat``, ``lng`` and ``cell``; ``res`` must match
    the cell column.  ``polygons`` must carry ``poly_id`` and ``geom_wkt``.
    """

    @task_entry
    def cover_gen(batches):
        for pdf in batches:
            rows_poly, rows_cell = [], []
            for pid, wkt in zip(pdf["poly_id"], pdf["geom_wkt"]):
                cover_cells = _envelope_cover(wkt, res)
                rows_poly.extend([pid] * len(cover_cells))
                rows_cell.extend(cover_cells.tolist())
            yield pd.DataFrame({"poly_id": rows_poly, "cell": rows_cell})

    poly_id_type = dict(polygons.dtypes)["poly_id"]
    if broadcast:
        pairs = [
            (r["poly_id"], r["geom_wkt"])
            for r in polygons.select("poly_id", "geom_wkt").collect()
        ]
        return _pip_broadcast(spark, pages, pairs, res, poly_id_type)

    # Huge polygon table: cover computed DISTRIBUTED (one Arrow batch pass),
    # shuffle joins, geometry attached per candidate and parsed once per
    # (polygon, Arrow batch).
    cover = polygons.select("poly_id", "geom_wkt").mapInPandas(
        cover_gen, schema=f"poly_id {poly_id_type}, cell long"
    )
    candidates = pages.join(cover, "cell", "inner").join(
        polygons.select("poly_id", "geom_wkt"), "poly_id", "inner"
    )

    @pandas_udf("boolean")
    @task_entry
    def contains(lat: pd.Series, lng: pd.Series, poly_id: pd.Series,
                 wkt: pd.Series) -> pd.Series:
        lat_v, lng_v = lat.to_numpy(), lng.to_numpy()
        pid_v = poly_id.to_numpy()
        out = np.zeros(len(lat_v), dtype=bool)
        for pid in pd.unique(pid_v):
            sel = pid_v == pid
            rings = parse_wkt_polygon(wkt[sel].iloc[0])
            # lng is x, lat is y in ring coordinates.
            out[sel] = points_in_rings(lat_v[sel], lng_v[sel], rings)
        return pd.Series(out)

    return candidates.where(
        contains(F.col("lat"), F.col("lng"), F.col("poly_id"), F.col("geom_wkt"))
    ).drop("geom_wkt")


def point_in_polygon_join(
    spark: SparkSession,
    pages: DataFrame,
    polygons: list[dict],
    res: int = 7,
    broadcast: bool = True,
    poly_id_type: "str | None" = None,
) -> DataFrame:
    """List-of-dicts convenience wrapper.  The broadcast (default) path goes
    straight to ``_pip_broadcast`` with the in-memory pairs — round-tripping
    through createDataFrame + collect costs two driver jobs (~0.6s) for
    nothing.

    ``poly_id_type`` pins the output poly_id column's Spark type; inferred
    from the first polygon when omitted (string ids -> string column).  It
    only matters for ``polygons=[]``, where nothing can be inferred and the
    default is bigint — pass it explicitly if an empty batch's result will
    be unioned with string-id results."""
    if poly_id_type is None and polygons:
        poly_id_type = ("string" if isinstance(polygons[0]["poly_id"], str)
                        else "bigint")
    if broadcast:
        return _pip_broadcast(
            spark, pages,
            [(f["poly_id"], f["geom_wkt"]) for f in polygons], res,
            poly_id_type=poly_id_type or "bigint",
        )
    poly_df = spark.createDataFrame(
        pd.DataFrame(
            {"poly_id": [f["poly_id"] for f in polygons],
             "geom_wkt": [f["geom_wkt"] for f in polygons]}
        )
    )
    return point_in_polygon_join_df(spark, pages, poly_df, res=res, broadcast=broadcast)


# (plan identity, planning res p) -> (sorted cell ids, counts) numpy arrays:
# the kNN planner's nonempty-cell histogram at p = min(res, _KNN_PLAN_RES),
# grouped by parent cell above that, so it is always driver-sized
# (<= 2*4^8 = 131k rows).  It is a pure function of the pages table, and
# kNN callers typically issue many joins against the same table, so every
# call after the first runs no driver job.  Driver-side and bounded.
_CELL_HIST_CACHE: dict = {}
_CELL_HIST_CACHE_MAX = 32
_KNN_PLAN_RES = 8
# (query, cell) pairs the planner prices at once: 512 KiB per float64
# bound matrix whatever the histogram's size, so the matrices stay in
# cache.  A fixed 1024-query chunk over the 91k parent cells of a
# 400k-page res-10 table grew one process to 11 GB; a 2**22-pair budget
# was bounded but 1.6-1.8x slower than this one (2048 queries x 6k cells
# and 512 x 91k, 4-vCPU x86 host).
_KNN_PLAN_PAIRS = 1 << 16


def _plan_identity(df: DataFrame):
    """A stable identity for a DataFrame's analyzed plan and the files it
    reads, or None when the backend doesn't expose one (then callers skip
    caching).  The plan alone hashes the same before and after a table is
    overwritten in place; Spark's writers name every file uniquely, so the
    file list tells the two apart.

    ``_jdf`` + ``semanticHash`` are private Spark API (present and stable
    across Spark 3.x/4.x on the JVM backend, absent on Spark Connect where
    there is no local ``_jdf``) — hence the broad except: any change in
    either simply disables caching, it never changes results (covered by a
    test that forces this path)."""
    try:
        return (df._jdf.queryExecution().analyzed().semanticHash(),
                hash(tuple(sorted(df.inputFiles()))))
    except Exception:
        return None


def invalidate_density_cache() -> None:
    """Drop every cached kNN cell histogram.  Call after rewriting a pages
    table's files in place under the same names: the cache keys on the
    analyzed plan and the file names, and a stale histogram prunes cells by
    counts the table no longer has, so results can miss true neighbors."""
    _CELL_HIST_CACHE.clear()


def _knn_histogram_plan(pdf: "pd.DataFrame", hist, p: int, k: int) -> "pd.DataFrame":
    """Exact-kNN planner for one batch of queries: per (query, cell) SOUND
    distance bounds over the nonempty-cell histogram at planning resolution
    ``p`` select the few cells that can hold the true top-k.  It plans
    every query, at every resolution: ``p = min(res, 8)``, and above res 8
    ``hist`` counts rows per PARENT cell (``cells.cell_parent``).  A
    parent's lower bound never exceeds any child's and its upper bound
    never falls below any child's, so the cap stays sound and every kept
    parent may still hold a top-k row.

    Bounds use the EXACT query point.  UPPER bound: meridian leg to the
    cell's far latitude edge + parallel leg (exact far longitude
    separation) with the cos MAXIMISED over the cell's latitude range (1.0
    across the equator — the cos(far_lat) form understated ub for
    pole-adjacent cells and pruned true nearest neighbors,
    test_knn_polar_exact).
    The cap on the true k-th distance is ``min{u : rows in cells with
    ub <= u >= k}`` (the largest ub when the table holds fewer than k
    rows), which does not depend on how tied ubs are ordered.  Every cell
    holds at least one row, so the k smallest-ub cells hold k rows and the
    cap is found among them by ``argpartition``, not a sort over all
    cells.  LOWER bound: max(meridian term of the exact latitude gap,
    haversine longitude term with cos minimised over the cell's latitude
    range) — cells with lb > cap cannot contribute.  The transcendental
    lng term is evaluated only for cells whose cheap meridian term
    survives the cap (the dense trig pass was the planner's measured
    cost).  Queries are priced in chunks of ``_KNN_PLAN_PAIRS // cells``
    rows, so memory stays bounded at any resolution.

    Returns (query_id, pcell, qlat, qlng, cap) keep rows, ``pcell`` a cell
    at ``p``; ``cap`` lets the candidate fetch drop dist > cap rows exactly
    (>= k rows exist at <= cap by construction)."""
    h_cells, h_counts = hist
    n_cells = len(h_cells)
    cell_h_deg = 180.0 / (1 << p)
    cell_w_deg = 360.0 / (1 << (p + 1))
    m_np = 111_194.9
    qid_a = pdf["query_id"].to_numpy()
    if len(qid_a) == 0 or n_cells == 0 or k < 1:
        return pd.DataFrame({
            "query_id": qid_a[:0], "pcell": np.array([], dtype=np.int64),
            "qlat": np.array([]), "qlng": np.array([]), "cap": np.array([]),
        })
    qlat_a = pdf["qlat"].to_numpy(dtype=np.float64)
    qlng_a = pdf["qlng"].to_numpy(dtype=np.float64)
    mask28 = (1 << 28) - 1
    crow = (h_cells >> 28) & mask28
    ccol = h_cells & mask28
    c_north_v = 90.0 - crow.astype(np.float64) * cell_h_deg
    c_south_v = c_north_v - cell_h_deg
    cos_n = np.cos(np.radians(c_north_v))
    cos_s = np.cos(np.radians(c_south_v))
    cos_cell_v = np.minimum(cos_n, cos_s)
    cos_par_v = np.where((c_north_v >= 0) & (c_south_v <= 0), 1.0,
                         np.maximum(cos_n, cos_s))
    cell_lng0 = ccol.astype(np.float64) * cell_w_deg - 180.0
    n_near = min(k, n_cells)
    rows = max(1, _KNN_PLAN_PAIRS // n_cells)
    keep = {"query_id": [], "pcell": [], "qlat": [], "qlng": [], "cap": []}
    for c0 in range(0, len(qid_a), rows):
        sl = slice(c0, c0 + rows)
        ql, qg, qi = qlat_a[sl], qlng_a[sl], qid_a[sl]
        # Longitude separation from qlng to the cell's [l0, l0+cw)
        # interval on the circle: far separation is to the farther edge,
        # or 180 when the query's antipode falls inside.
        ang = np.mod(qg[:, None] - cell_lng0[None, :], 360.0)
        far_lng = np.where(
            (ang >= 180.0) & (ang <= 180.0 + cell_w_deg), 180.0,
            np.maximum(np.minimum(ang, 360.0 - ang),
                       np.minimum(np.abs(ang - cell_w_deg),
                                  360.0 - np.abs(ang - cell_w_deg))))
        far_m = np.where(
            np.abs(ql[:, None] - c_north_v[None, :])
            > np.abs(ql[:, None] - c_south_v[None, :]),
            c_north_v[None, :], c_south_v[None, :])
        ub_m = (np.abs(ql[:, None] - far_m) * m_np
                + far_lng * m_np * cos_par_v[None, :])
        near = np.argpartition(ub_m, n_near - 1, axis=1)[:, :n_near]
        ub_near = np.take_along_axis(ub_m, near, axis=1)
        order = np.argsort(ub_near, axis=1)
        ub_sorted = np.take_along_axis(ub_near, order, axis=1)
        cnt_sorted = h_counts[np.take_along_axis(near, order, axis=1)]
        cum_excl = np.cumsum(cnt_sorted, axis=1) - cnt_sorted
        cap_a = np.max(np.where(cum_excl < k, ub_sorted, -np.inf), axis=1)
        gap_lat = np.maximum(np.maximum(c_south_v[None, :] - ql[:, None],
                                        ql[:, None] - c_north_v[None, :]),
                             0.0)
        maybe = gap_lat * m_np <= cap_a[:, None]
        mq, mc = np.nonzero(maybe)
        ang_s = ang[mq, mc]
        gap_lng_s = np.where(
            ang_s < cell_w_deg, 0.0,
            np.minimum(ang_s - cell_w_deg, 360.0 - ang_s))
        lb_lng_s = 2.0 * EARTH_RADIUS_M * np.arcsin(
            np.sqrt(np.maximum(
                np.cos(np.radians(ql))[mq] * cos_cell_v[mc], 0.0))
            * np.sin(np.radians(gap_lng_s) / 2.0))
        lb_s = np.maximum(gap_lat[mq, mc] * m_np, lb_lng_s)
        sel = lb_s <= cap_a[mq]
        sq, sc = mq[sel], mc[sel]
        keep["query_id"].append(qi[sq])
        keep["pcell"].append(h_cells[sc])
        keep["qlat"].append(ql[sq])
        keep["qlng"].append(qg[sq])
        keep["cap"].append(cap_a[sq])
    return pd.DataFrame({c: np.concatenate(v) for c, v in keep.items()})


def haversine_col(lat, lng, qlat, qlng):
    """Great-circle metres as a JVM column expression (term-for-term mirror
    of ``haversine_m``, so both engines and the SQL oracle agree)."""
    p1 = F.radians(qlat)
    p2 = F.radians(lat)
    a = (
        F.pow(F.sin((p2 - p1) / 2), 2)
        + F.cos(p1) * F.cos(p2) * F.pow(F.sin((F.radians(lng) - F.radians(qlng)) / 2), 2)
    )
    return F.lit(2.0) * F.lit(EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def knn_join_df(
    spark: SparkSession,
    pages: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 7,
    max_ring: int = 6,
    id_col: str = "url",
) -> DataFrame:
    """Table-vs-table kNN: for every row of ``queries`` (query_id, lat, lng),
    its k nearest pages by great-circle distance, ranked by
    ``(dist_m, id_col)`` — EXACT for every query, including ones in empty
    regions or at the poles whose true neighbors are thousands of km away.

    One plan serves every query:

    1. the pages are pruned to the join columns and coalesced;
    2. the nonempty-cell histogram at ``p = min(res, 8)`` (row counts per
       parent cell above res 8) comes from ``_CELL_HIST_CACHE``, or from one
       collect per table;
    3. one ``mapInPandas`` over the queries DataFrame runs
       ``_knn_histogram_plan``, which keeps per query the few cells whose
       sound distance bounds can still hold a top-k row, plus a cap on the
       true k-th distance;
    4. pages broadcast-join those keep rows on their parent cell, rows
       beyond the cap are dropped, and one window rank finishes.

    The driver never sees a query or a result row.  ``max_ring`` is
    accepted and ignored.
    """
    from pyspark.sql import Window as W

    # Prune to the join columns and cap the scan's task count at 2x the
    # cluster parallelism: the shuffle feeding the top-k window is tiny in
    # BYTES but its cost is dominated by per-map-task shuffle-file overhead
    # (bench table: 512 8MB-split scan tasks -> 3.8s for a 900k-row rank;
    # coalesced to 64 tasks -> 0.8s, 4.6x).  Narrow coalesce keeps every
    # core busy (2 waves) without a repartition shuffle.
    pages = pages.select("cell", "lat", "lng", id_col)
    target_parts = 2 * spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() > 2 * target_parts:
        pages = pages.coalesce(target_parts)

    q = queries.select(
        "query_id",
        F.col("lat").cast("double").alias("qlat"),
        F.col("lng").cast("double").alias("qlng"),
    )

    # Planning runs at p = min(res, 8) on cells' parents (the
    # cells.cell_parent arithmetic), so the histogram is at most
    # 2*4^8 = 131k rows at any res.  Coarser cells only loosen the bounds,
    # never break them.
    p = min(res, _KNN_PLAN_RES)
    shift = res - p
    parent = F.col("cell")
    if shift:
        mask28 = (1 << 28) - 1
        parent = (
            F.lit(p << 56)
            + F.shiftleft(F.shiftright(
                F.shiftright("cell", 28).bitwiseAND(mask28), shift), 28)
            + F.shiftright(F.col("cell").bitwiseAND(mask28), shift)
        )
    ident = _plan_identity(pages)
    hist = _CELL_HIST_CACHE.get((ident, p)) if ident is not None else None
    if hist is None:
        rows = pages.groupBy(parent.alias("pcell")).agg(
            F.count("*").alias("_n")).collect()
        h_cells = np.array([r["pcell"] for r in rows], dtype=np.int64)
        h_counts = np.array([r["_n"] for r in rows], dtype=np.int64)
        order = np.argsort(h_cells)
        hist = (h_cells[order], h_counts[order])
        if ident is not None:
            while len(_CELL_HIST_CACHE) >= _CELL_HIST_CACHE_MAX:
                _CELL_HIST_CACHE.pop(next(iter(_CELL_HIST_CACHE)))
            _CELL_HIST_CACHE[(ident, p)] = hist

    # The planner runs DISTRIBUTED inside the broadcast build of the keep
    # table — no driver collect, no extra job barrier.  The histogram
    # arrays ride in the closure (~16 bytes per nonempty cell at p).
    @task_entry
    def plan_gen(batches, _hist=hist, _p=p, _k=k):
        for pdf in batches:
            yield _knn_histogram_plan(pdf, _hist, _p, _k)

    qid_type = dict(q.dtypes)["query_id"]
    kp = q.mapInPandas(
        plan_gen,
        schema=(f"query_id {qid_type}, pcell long, qlat double, "
                "qlng double, cap double"),
    )
    # dist > cap rows cannot be top-k (the cap's cells already hold >= k
    # rows at <= cap), so they are dropped before the rank's exchange.
    by_dist = W.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col(id_col).asc())
    return (
        pages.join(F.broadcast(kp), parent == F.col("pcell"))
        .select(
            "query_id", id_col,
            haversine_col(
                F.col("lat"), F.col("lng"), F.col("qlat"), F.col("qlng")
            ).alias("dist_m"),
            "cap",
        )
        .where(F.col("dist_m") <= F.col("cap"))
        .withColumn("rank", F.row_number().over(by_dist))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "dist_m", "rank")
    )


def knn_join(
    spark: SparkSession,
    pages: DataFrame,
    queries: list[dict],
    k: int = 5,
    res: int = 7,
    max_ring: int = 6,
    id_col: str = "url",
) -> DataFrame:
    """List-of-dicts convenience wrapper over ``knn_join_df`` (``queries``:
    dicts with ``query_id``, ``lat``, ``lng``)."""
    if not queries:
        # createDataFrame cannot infer a schema from an empty pandas frame;
        # an empty query batch is a legal pipeline state, not an error.
        # The neighbor column's type follows the pages table (string urls,
        # integer ids, ...) so an empty batch unions cleanly with non-empty
        # results; query_id has nothing to infer from and defaults bigint.
        id_type = pages.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id bigint, {id_col} {id_type}, dist_m double, rank int"
        )
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "lat", "lng"])
    )
    return knn_join_df(
        spark, pages, qdf, k=k, res=res, max_ring=max_ring, id_col=id_col
    )


def adaptive_cells(pages: DataFrame, res: int, max_rows: int,
                   max_extra_levels: int = 3) -> DataFrame:
    """Re-key rows of over-full cells to child cells until every key holds at
    most ``max_rows`` rows (or the level budget runs out) — adaptive cell
    splitting for skewed joins/partitions.

    Adds ``part_cell``: the adaptive partition key.  Pure column arithmetic
    (cell ids are closed-form), driven by one aggregate per level.
    """
    out = pages.withColumn("part_cell", F.col("cell"))
    current_res = res
    for _ in range(max_extra_levels):
        counts = out.groupBy("part_cell").agg(F.count("*").alias("n"))
        hot = counts.where(F.col("n") > max_rows).select("part_cell")
        if hot.isEmpty():
            break
        current_res += 1
        hot = F.broadcast(hot.withColumnRenamed("part_cell", "hot_cell"))
        # Hot rows re-key to the cell CONTAINING them at the finer level —
        # recomputed from lat/lng with cell_expr (equivalent to deriving the
        # child from the parent id, since the grid nests exactly 4-way).
        out = (
            out.join(hot, out["part_cell"] == hot["hot_cell"], "left")
            .withColumn(
                "part_cell",
                F.when(
                    F.col("hot_cell").isNull(), F.col("part_cell")
                ).otherwise(cell_expr("lat", "lng", current_res)),
            )
            .drop("hot_cell")
        )
    return out


def cell_expr(lat_col: str, lng_col: str, res: int):
    """Closed-form Spark SQL expression for the engine's cell id containing a
    point (JVM-side column algebra; no UDF — mirrors cells.latlng_to_cell)."""
    rows = F.lit(float(1 << res))
    cols = F.lit(float(1 << (res + 1)))
    row = F.floor((F.lit(90.0) - F.col(lat_col)) / (F.lit(180.0) / rows)).cast("long")
    col = F.floor(
        ((F.col(lng_col) + F.lit(180.0)) % F.lit(360.0)) / (F.lit(360.0) / cols)
    ).cast("long")
    row = F.least(F.greatest(row, F.lit(0)), F.lit((1 << res) - 1))
    col = F.least(F.greatest(col, F.lit(0)), F.lit((1 << (res + 1)) - 1))
    return (F.lit(res).cast("long") * F.lit(1 << 56).cast("long")) + \
        F.shiftleft(row, 28) + col


def salted(df: DataFrame, key_col: str, buckets: int = 16) -> DataFrame:
    """Append a deterministic salt column for repartitioning hot keys:
    ``repartition(col(key), col('salt'))`` spreads each key over ``buckets``
    reducers without changing join semantics (the other side explodes salt).

    The salt is a CONTENT hash of the whole row — never a positional id like
    ``monotonically_increasing_id()``, which changes across task retries and
    would re-salt rows differently mid-job (a retried stage could then
    double-count or drop rows in salt-aware consumers).  Identical duplicate
    rows share a bucket; distinct rows of a hot key still spread."""
    return df.withColumn(
        "salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets)),
    )
