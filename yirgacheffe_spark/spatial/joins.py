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

import math

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


# (semanticHash of the pruned pages plan, res) -> per-band count vector.
# The profile is a pure function of the pages table; kNN callers typically
# issue many joins against the same table, and re-aggregating it per call was
# the measured r03 bench regression (+0.66s fixed cost per invocation).  The
# cache is driver-side, tiny (<= 64k float64 per entry), and bounded.
_BAND_DENSITY_CACHE: dict = {}
_BAND_DENSITY_CACHE_MAX = 32
# (plan identity, planning res p) -> (sorted cell ids, counts) numpy arrays:
# the exact-kNN fallback's nonempty-cell histogram at p = min(res,
# _KNN_PLAN_RES), grouped by parent cell above that, so it is always
# driver-sized (<= 2*4^8 = 131k rows).  Same invalidation story as the band
# cache.
_CELL_HIST_CACHE: dict = {}
_KNN_PLAN_RES = 8


def _plan_identity(df: DataFrame):
    """A stable identity for a DataFrame's analyzed plan, or None when the
    backend doesn't expose one (then callers skip caching).

    ``_jdf`` + ``semanticHash`` are private Spark API (present and stable
    across Spark 3.x/4.x on the JVM backend, absent on Spark Connect where
    there is no local ``_jdf``) — hence the broad except: any change in
    either simply disables caching, it never changes results (covered by a
    test that forces this path)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


def invalidate_density_cache() -> None:
    """Drop every cached band-density profile.  Call after OVERWRITING a
    pages table in place: the cache keys on the analyzed plan, which cannot
    see that the files behind an identical-looking plan changed — stale
    densities only cost performance (the verified settle bound keeps
    results exact), but every query would pay the escalation scan until
    the process restarts."""
    _BAND_DENSITY_CACHE.clear()
    _CELL_HIST_CACHE.clear()


def band_density_profile(pages: DataFrame, res: int) -> "np.ndarray":
    """Per-latitude-band row counts of a cell-indexed pages table (bands are
    cell rows, coarsened so at most 65536 land on the driver).  Cached by the
    table's analyzed-plan identity: repeated kNN joins against the same table
    skip the aggregation job entirely.  Call
    ``invalidate_density_cache()`` after rewriting a table in place (the
    plan-keyed cache cannot detect changed files — stale entries are
    performance-only, never correctness)."""
    shift = max(res - 16, 0)
    n_bands = (1 << res) >> shift
    ident = _plan_identity(pages.select("cell"))
    key = (ident, res)
    if ident is not None and key in _BAND_DENSITY_CACHE:
        return _BAND_DENSITY_CACHE[key]
    band_rows = (
        pages.groupBy(
            (F.shiftrightunsigned(F.col("cell"), 28 + shift) % F.lit(n_bands))
            .cast("long")
            .alias("band")
        )
        .count()
        .collect()
    )
    counts = np.zeros(n_bands, dtype=np.float64)
    for row in band_rows:
        counts[int(row["band"])] = float(row["count"])
    if ident is not None:
        if len(_BAND_DENSITY_CACHE) >= _BAND_DENSITY_CACHE_MAX:
            _BAND_DENSITY_CACHE.pop(next(iter(_BAND_DENSITY_CACHE)))
        _BAND_DENSITY_CACHE[key] = counts
    return counts


def _knn_histogram_plan(pdf: "pd.DataFrame", hist, p: int, k: int) -> "pd.DataFrame":
    """Exact-kNN fallback planner for one batch of unsettled queries:
    per (query, cell) SOUND distance bounds over the nonempty-cell
    histogram at planning resolution ``p`` select the few cells that can
    hold the true top-k.  It is the only planner, at every resolution:
    ``p = min(res, 8)``, and above res 8 ``hist`` counts rows per PARENT
    cell (``cells.cell_parent``).  A parent's lower bound never exceeds any
    child's and its upper bound never falls below any child's, so the cap
    stays sound and every kept parent may still hold a top-k row.

    Bounds use the EXACT query point.  UPPER bound: meridian leg to the
    cell's far latitude edge + parallel leg (exact far longitude
    separation) with the cos MAXIMISED over the cell's latitude range (1.0
    across the equator — the cos(far_lat) form understated ub for
    pole-adjacent cells and pruned true nearest neighbors,
    test_knn_polar_exact).
    Sorting cells by ub, the cheapest prefix holding k rows caps the
    true k-th distance.  LOWER bound: max(meridian term of the exact
    latitude gap, haversine longitude term with cos minimised over the
    cell's latitude range) — cells with lb > cap cannot contribute.  The
    transcendental lng term is evaluated only for cells whose cheap
    meridian term survives the cap (the dense trig pass was the
    planner's measured cost).

    Returns (query_id, pcell, qlat, qlng, cap) keep rows, ``pcell`` a cell
    at ``p``; ``cap`` lets the candidate fetch drop dist > cap rows exactly
    (>= k rows exist at <= cap by construction)."""
    h_cells, h_counts = hist
    cell_h_deg = 180.0 / (1 << p)
    cell_w_deg = 360.0 / (1 << (p + 1))
    m_np = 111_194.9
    qid_a = pdf["query_id"].to_numpy()
    if len(qid_a) == 0 or len(h_cells) == 0:
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
    keep = {"query_id": [], "pcell": [], "qlat": [], "qlng": [], "cap": []}
    for c0 in range(0, len(qid_a), 1024):
        sl = slice(c0, c0 + 1024)
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
        # Stable argsort over the cell-ascending axis breaks ub ties by
        # cell id, so the cap is deterministic.
        order = np.argsort(ub_m, axis=1, kind="stable")
        cnt_sorted = np.take(h_counts, order)
        cum_excl = np.cumsum(cnt_sorted, axis=1) - cnt_sorted
        ub_sorted = np.take_along_axis(ub_m, order, axis=1)
        cap_a = np.max(np.where(cum_excl < k, ub_sorted, -np.inf), axis=1)
        gap_lat = np.maximum.reduce([
            np.zeros((len(qi), len(h_cells))),
            c_south_v[None, :] - ql[:, None],
            ql[:, None] - c_north_v[None, :],
        ])
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
    initial_ring: int | None = None,
) -> DataFrame:
    """Table-vs-table kNN: for every row of ``queries`` (query_id, lat, lng),
    its k nearest pages by great-circle distance — EXACT for every query,
    including ones in empty regions whose true neighbors are thousands of
    km away (``max_ring`` is a performance knob for the cheap disk search,
    never a correctness bound: what it cannot certify falls through to one
    cell-histogram-pruned exact pass).

    ONE-SHOT adaptive-disk design: every query is assigned its own ring —
    the smallest power of two whose disk (a) is expected to hold >= 4k
    candidates at the table's per-latitude-band density and (b) has a
    provable settle radius larger than the density-predicted k-th distance
    (which is floored at the distance to the nearest nonempty band, so an
    empty-region query picks a disk that REACHES the data).  All disks are
    scored in ONE page-table scan (cells via JVM ``explode(sequence(...))``,
    cell-equality join, JVM haversine), the per-query top-k is one window
    rank, and the settle condition is then VERIFIED exactly: count >= k
    and k-th distance within the sound outside-point bound (min over
    integer row offsets d of max(d*cell_h meridian term, longitude chord
    at the point's own latitude)).  Queries the bound cannot certify take
    one exact fallback pass, with one planner at every resolution:
    ``_knn_histogram_plan`` prices each (query, cell) pair of the (cached)
    nonempty-cell histogram at ``min(res, 8)`` with sound distance bounds
    and keeps the few cells around the nearest data; one candidate-fetch
    scan joins pages on their cell's parent at that resolution, and a
    window rank finishes.  The driver never sees a result row.

    Why one-shot: the earliest multi-round shell expansion cost one full
    page scan PLUS an eager ``localCheckpoint`` barrier per round, and the
    barriers' fixed costs grow with cores — measured 0.91x scaling from 8
    to 32 cores on the bench mix (2-3 serialized rounds).  The one-shot
    plan has one heavy job and one cheap check, and the density prediction
    only affects PERFORMANCE — exactness comes from the verified settle
    bound and the histogram-pruned final pass.

    ``initial_ring`` (optional) bypasses the density estimate and gives
    every query that uniform starting ring.
    """
    from pyspark.sql import Window as W

    rows_n, cols_n = 1 << res, 1 << (res + 1)
    cell_h_deg = 180.0 / rows_n
    cell_w_deg = 360.0 / cols_n
    m_per_deg = 111_194.9
    cell_h_m = cell_h_deg * m_per_deg

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
    ).withColumn(
        "qrow",
        F.least(
            F.greatest(
                F.floor((F.lit(90.0) - F.col("qlat")) / F.lit(cell_h_deg)).cast("long"),
                F.lit(0),
            ),
            F.lit(rows_n - 1),
        ),
    ).withColumn(
        "qcol",
        F.least(
            F.greatest(
                F.floor(
                    (F.pmod(F.col("qlng") + F.lit(180.0), F.lit(360.0)))
                    / F.lit(cell_w_deg)
                ).cast("long"),
                F.lit(0),
            ),
            F.lit(cols_n - 1),
        ),
    )

    # -- per-query ring assignment -------------------------------------------
    max_assigned_ring = max_ring
    if initial_ring is not None:
        qr = q.withColumn(
            "ring", F.lit(max(1, min(initial_ring, max_ring))).cast("int")
        )
    else:
        # Per-LATITUDE-BAND density, not a global mean: real page tables are
        # wildly nonuniform by latitude (the bench corpus has zero coverage
        # below -62 deg; a global estimate sent 10/64 queries into the
        # escalation scan every run).  One cheap single-column aggregation
        # (map-side partial agg -> <= 64k rows to the driver) yields per-band
        # counts; a tiny numpy pass picks each band's ring; queries join the
        # (qrow -> ring) lookup broadcast-side.  Still only a PREDICTION —
        # exactness comes from the verified settle bound below.
        shift = max(res - 16, 0)  # cap the collected bands at 65536
        n_bands = rows_n >> shift
        band_h_deg = 180.0 / n_bands
        counts = band_density_profile(pages, res)
        lat_edges = 90.0 - np.arange(n_bands + 1) * band_h_deg
        band_area_m2 = (
            2.0
            * math.pi
            * EARTH_RADIUS_M**2
            * np.abs(np.sin(np.radians(lat_edges[:-1])) - np.sin(np.radians(lat_edges[1:])))
        )
        lat_center = 90.0 - (np.arange(n_bands) + 0.5) * band_h_deg
        ring_of_band = np.full(n_bands, max_ring, dtype=np.int64)
        undecided = np.ones(n_bands, dtype=bool)
        cum = np.concatenate([[0.0], np.cumsum(counts)])
        cum_area = np.concatenate([[0.0], np.cumsum(band_area_m2)])
        # Remote-band kth floor: a query in (or near) an empty region has
        # its k-th neighbor AT LEAST as far as the nearest nonempty band,
        # so the uniform-density estimate must never undercut that — this
        # is what lets empty-ocean queries pick a ring that REACHES the
        # data and verify in the main scan, instead of failing the bound
        # and paying the exact fallback pass per call (359/2048 bench
        # queries before; ~0 after).
        band_h_m = band_h_deg * 111_194.9
        nonempty = counts > 0
        if nonempty.any():
            idx = np.arange(n_bands)
            fwd = np.where(nonempty, idx, -10**9)
            np.maximum.accumulate(fwd, out=fwd)
            bwd = np.where(nonempty, idx, 10**9)
            bwd = np.minimum.accumulate(bwd[::-1])[::-1]
            gap_bands = np.minimum(np.abs(idx - fwd), np.abs(bwd - idx))
            kth_floor = np.maximum(gap_bands - 1, 0) * band_h_m
        else:
            kth_floor = np.zeros(n_bands)
        # Search rings PAST max_ring: a remote band may need a disk that
        # spans the gap; bigger rings only grow the (cell-pruned) disk,
        # exactness always comes from the verified bound.  Bands whose
        # predicted ring exceeds max_ring are REROUTED below to the exact
        # histogram fallback instead of paying the giant disk.
        ring_cap = max(max_ring, rows_n)
        r = 1
        while r < ring_cap:
            rb = max(1, r >> shift)  # ring expressed in collected-band units
            lo = np.maximum(np.arange(n_bands) - rb, 0)
            hi = np.minimum(np.arange(n_bands) + rb + 1, n_bands)
            frac = (2 * r + 1) / float(cols_n)
            exp_cand = (cum[hi] - cum[lo]) * frac
            disk_area = (cum_area[hi] - cum_area[lo]) * frac
            with np.errstate(divide="ignore", invalid="ignore"):
                est_kth = 2.0 * np.sqrt(
                    max(k, 1) * disk_area / (math.pi * np.maximum(exp_cand, 1e-9))
                )
            # Sampled version of the tight per-point settle bound used in
            # the SQL verification (min over row offsets d of
            # max(d*cell_h, chord at the point's own latitude)); sampling
            # can only OVER-estimate safe here, which mispredicts a ring —
            # the exact SQL bound still gates correctness.
            ds = np.unique(np.concatenate(
                [[0, r], np.geomspace(1, max(r, 1), 24).astype(np.int64)]))
            phi_d = np.minimum(
                90.0,
                np.abs(lat_center)[:, None] + (ds[None, :] + 1) * cell_h_deg,
            )
            chord_d = (
                2.0
                * EARTH_RADIUS_M
                * np.arcsin(
                    np.maximum(np.cos(np.radians(phi_d)), 0.0)
                    * math.sin(math.radians(min(r * cell_w_deg, 180.0)) / 2.0)
                )
            )
            safe = np.maximum(
                ds[None, :] * cell_h_m, chord_d
            ).min(axis=1)
            est_kth = np.maximum(est_kth, kth_floor)
            ok = undecided & (exp_cand >= 4 * k) & (safe >= est_kth)
            ring_of_band[ok] = r
            undecided &= ~ok
            r *= 2
        # Remote-band rerouting (measured on the 2048-query bench shape,
        # 400k pages at res 6): the 38 queries whose gap-spanning disks
        # needed ring 16/32 produced ~3.0M of the scan's ~4.4M candidate
        # rows (69%), while the histogram fallback prices each pending
        # query at only ~nonempty_cells skinny rows.  A band whose
        # predicted ring exceeds max_ring therefore gets a MINIMAL disk
        # (ring 1, near-zero scan work, cannot falsely certify — the
        # settle bound still gates) and takes the exact fallback pass,
        # which runs for the never-certified bands anyway.  max_ring is
        # thus honestly the documented performance knob for the cheap
        # disk search, never a correctness bound.
        ring_of_band = np.where(ring_of_band > max_ring, 1, ring_of_band)
        # Runs of equal ring over contiguous bands become one CASE branch —
        # a pure column expression, cheaper than materialising a lookup
        # DataFrame and paying a broadcast build (~0.9s of driver fixed cost
        # per call on the bench).
        if n_bands > 256:
            # Keep the CASE chain inside codegen limits: coarsen to <= 256
            # intervals taking the MAX ring per interval (a larger ring is
            # always exactness-safe, only more work).
            chunk = -(-n_bands // 256)
            ring_of_band = np.array(
                [
                    ring_of_band[i : i + chunk].max()
                    for i in range(0, n_bands, chunk)
                ],
                dtype=np.int64,
            ).repeat(chunk)[:n_bands]
        run_starts = [0] + [
            b for b in range(1, n_bands) if ring_of_band[b] != ring_of_band[b - 1]
        ]
        band_col = F.shiftrightunsigned(F.col("qrow"), shift)
        chain = None
        for i, start in enumerate(run_starts):
            end = run_starts[i + 1] if i + 1 < len(run_starts) else n_bands
            cond = (band_col >= start) & (band_col < end)
            val = int(ring_of_band[start])
            chain = F.when(cond, val) if chain is None else chain.when(cond, val)
        qr = q.withColumn(
            "ring", chain.otherwise(max_ring).cast("int")
        )
        max_assigned_ring = max(int(ring_of_band.max()), max_ring)

    def make_disk(frame: DataFrame) -> DataFrame:
        disk = (
            frame.withColumn(
                "dy", F.explode(F.sequence(-F.col("ring"), F.col("ring")))
            )
            .where(
                (F.col("qrow") + F.col("dy") >= 0)
                & (F.col("qrow") + F.col("dy") < rows_n)
            )
            .withColumn("dx", F.explode(F.sequence(-F.col("ring"), F.col("ring"))))
            .select(
                "query_id",
                "qlat",
                "qlng",
                (
                    F.lit(res).cast("long") * F.lit(1 << 56).cast("long")
                    + (F.col("qrow") + F.col("dy")) * F.lit(1 << 28).cast("long")
                    + F.pmod(F.col("qcol") + F.col("dx"), F.lit(cols_n))
                ).alias("cell"),
            )
        )
        if 2 * max_assigned_ring + 1 > cols_n:
            # Longitude wrap can make two (dy, dx) offsets land on the same
            # physical cell — dedupe so no neighbour is scored twice.
            disk = disk.dropDuplicates(["query_id", "cell"])
        return disk

    def scored(cand: DataFrame, *extra: str) -> DataFrame:
        # The one scoring select of the disk search and the fallback fetch,
        # so both rank bit-identical distances.
        return cand.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            haversine_col(
                F.col("lat"), F.col("lng"), F.col("qlat"), F.col("qlng")
            ).alias("dist_m"),
            *extra,
        )

    # One heavy job: all disks scored in a single scan.  localCheckpoint
    # because `best` feeds both the settle check and the output (without
    # truncation the scan would run twice).  LAZY (eager=False): the
    # pending collect below is then the scan's first action, so the disk
    # scan, the settle stats and the checkpoint materialise in ONE job
    # instead of paying a separate eager barrier first.
    by_dist = W.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col("neighbor_id").asc())
    best = (
        scored(pages.join(F.broadcast(make_disk(qr)), "cell", "inner"))
        .withColumn("rank", F.row_number().over(by_dist))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_m")
    ).localCheckpoint(eager=False)

    # Exact settle verification (the density prediction above affects only
    # performance, never correctness).
    stats = best.groupBy("query_id").agg(
        F.count("*").alias("_c"), F.max("dist_m").alias("_kth")
    )
    judged = qr.join(stats, "query_id", "left")
    ring_c = F.col("ring").cast("double")
    # Tight sound settle radius: every point OUTSIDE the disk sits at some
    # integer row offset d from the query; its distance is at least
    # max(meridian term d*cell_h, longitude chord AT ITS OWN latitude).
    # The minimum of that per-point bound over d — computed exactly with a
    # transform over sequence(0, ring); queries are dim-sized, so ring+1
    # JVM evaluations per row are free — replaces the old
    # min(ring*cell_h, chord(ring)), which paired the worst meridian (d=0)
    # with the worst chord (d=ring) and collapsed to ~0 for any query near
    # a pole, forcing every high-latitude query into the exact fallback.
    lng_half = F.sin(
        F.radians(F.least(ring_c * F.lit(cell_w_deg), F.lit(180.0))) / 2)

    def _outside_bound(d):
        dd = d.cast("double")
        phi = F.least(
            F.lit(90.0), F.abs(F.col("qlat")) + (dd + 1) * F.lit(cell_h_deg))
        chord = F.lit(2.0 * EARTH_RADIUS_M) * F.asin(
            F.greatest(F.cos(F.radians(phi)), F.lit(0.0)) * lng_half)
        return F.greatest(dd * F.lit(cell_h_m), chord)

    safe_v = F.array_min(
        F.transform(F.sequence(F.lit(0), F.col("ring")), _outside_bound))
    # Settled ONLY when the verified bound holds — never merely because the
    # search hit max_ring: a force-settled max_ring disk can return the
    # corner of the disk as "nearest" while a closer page sits just outside
    # it, and a query whose disk is empty would vanish from the output.
    is_settled = (F.col("_c") >= k) & (F.col("_kth") <= safe_v)
    pending = judged.where(~F.coalesce(is_settled, F.lit(False)))
    # Queries are dim-sized by contract, so the UNSETTLED ones are collected
    # (one job, which also materialises `best`) to feed the fallback planner.
    pending_rows = pending.select("query_id", "qlat", "qlng").collect()

    out = best.withColumn("_fb", F.lit(0))
    if pending_rows:
        # Cell-histogram-pruned exact pass (SINGLE pass, no escalation
        # loop) for what the disk bound could not certify (empty-region
        # queries, k-th neighbor thousands of km out; plus the remote
        # bands deliberately rerouted here by the max_ring clamp above).
        # Per (query, cell) pair SOUND distance bounds from cell geometry:
        # sorting cells by the upper bound, the first prefix holding k rows
        # caps the true k-th distance, and cells whose LOWER bound exceeds
        # that cap cannot contribute — candidates collapse to the few cells
        # around the nearest data cluster instead of query x table.
        #
        # Planning runs at p = min(res, 8) on cells' parents (the
        # cells.cell_parent arithmetic), so the nonempty-cell histogram is
        # at most 2*4^8 = 131k rows at any res — collected ONCE per table
        # and cached like the band profile.  Coarser cells only loosen the
        # bounds, never break them.
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
                while len(_CELL_HIST_CACHE) >= _BAND_DENSITY_CACHE_MAX:
                    _CELL_HIST_CACHE.pop(next(iter(_CELL_HIST_CACHE)))
                _CELL_HIST_CACHE[(ident, p)] = hist
        qid_type = dict(q.dtypes)["query_id"]
        # The cap/keep planning itself runs DISTRIBUTED: one mapInPandas
        # over the (dim-sized) pending queries, executed inside the
        # broadcast build of the keep table — no extra job barrier, and
        # the bound matrices are spread over the cluster instead of
        # serialising on the driver (the driver-side numpy formulation
        # measured 0.5-1.3s for 279 x 6k pairs on this memory-bound VM).
        # The histogram arrays ride in the closure (~16 bytes per nonempty
        # cell at p).
        pend_df = spark.createDataFrame(
            pd.DataFrame({
                "query_id": [r["query_id"] for r in pending_rows],
                "qlat": [r["qlat"] for r in pending_rows],
                "qlng": [r["qlng"] for r in pending_rows],
            }),
            schema=f"query_id {qid_type}, qlat double, qlng double",
        )
        n_plan_parts = max(1, min(len(pending_rows) // 8 + 1, 64))
        if n_plan_parts > 1:
            pend_df = pend_df.repartition(n_plan_parts)

        @task_entry
        def plan_gen(batches, _hist=hist, _p=p, _k=k):
            for pdf in batches:
                yield _knn_histogram_plan(pdf, _hist, _p, _k)

        kp = pend_df.mapInPandas(
            plan_gen,
            schema=(f"query_id {qid_type}, pcell long, qlat double, "
                    "qlng double, cap double"),
        )
        # dist > cap rows cannot be top-k (the cap's prefix cells already
        # hold >= k rows at <= cap), so they are dropped BEFORE the union
        # feeds the final rank's exchange.
        final = scored(
            pages.join(F.broadcast(kp), parent == F.col("pcell")), "cap"
        ).where(F.col("dist_m") <= F.col("cap")).drop("cap")
        out = out.unionByName(final.withColumn("_fb", F.lit(1)))

    # `best` is localCheckpoint-backed (executor-resident, <= k rows per
    # query); Spark's ContextCleaner reclaims it when the result goes out of
    # scope.  The driver never holds result rows — only the dim-sized
    # unsettled-query list and the bounded cell histogram.
    #
    # The final rank is also the settled filter.  Fallback rows (_fb = 1)
    # rank ahead of disk rows, and only the rows of a query's top source
    # survive, so a pending query's disk rows give way to its fallback rows
    # (it has at least min(k, table rows) of them: the cap's prefix cells
    # are always kept).  No id list enters the plan, pending is not re-run,
    # and no job is added (a broadcast anti-join against the pending ids
    # would be one more job, even over a local relation); the rank's
    # map-side group limit still trims rows before the exchange.
    first = W.partitionBy("query_id").orderBy(
        F.col("_fb").desc(), F.col("dist_m").asc(), F.col("neighbor_id").asc())
    return (
        out.withColumn("rank", F.row_number().over(first))
        .where(F.col("rank") <= k)
        .withColumn("_top", F.max("_fb").over(W.partitionBy("query_id")))
        .where(F.col("_fb") == F.col("_top"))
        .select("query_id", F.col("neighbor_id").alias(id_col), "dist_m", "rank")
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
