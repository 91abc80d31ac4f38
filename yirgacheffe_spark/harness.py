"""Correctness-harness fixtures: deterministic rasters derived from the
driver's TPC-H-ish tables.

The driver's oracle (``__spark_entry__.py``) validates the layer algebra by
running each Spark query against equivalent DuckDB SQL on the *same* parquet
tables.  Layers therefore have to be derivable from those tables by a rule
both engines can express exactly:

    pixel index  i   = row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                          l_partkey, l_suppkey) - 1
    pixel (y, x)     = (i // W, i % W)            with W = 256
    grid             = epsg:4326, 0.01 deg pitch, origin (0, 0)
    tail pixels      = 0  (H = ceil(N / W))

Four value channels: qty = l_quantity, price = floor(l_extendedprice),
elev = l_partkey % 1000, hab = l_suppkey % 20 — all integer-valued doubles,
so float64 aggregation is exact and order-independent (no fp-hash flakes).

Raster tables are materialised once per (sf_dir) under /tmp and read back as
``ParquetRasterLayer``s, so oracle queries exercise the real raster
plan (the tile grid's in-kernel leaf reads).  (Fixture *construction* is
driver-side pyarrow: it is test plumbing, not the engine; at real scale
rasters arrive as tables.)
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

from .grid import Area, MapProjection
from .sources.parquet import ParquetRasterLayer, write_array_as_raster_table

RASTER_W = 256
STEP = 0.01
PROJ = MapProjection("epsg:4326", STEP, -STEP)

# Shared SQL prefix for every lineitem-raster oracle (DuckDB dialect).
PX_CTE = """
WITH px AS (
  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS i,
         CAST(l_quantity AS DOUBLE) AS qty,
         floor(l_extendedprice) AS price,
         CAST(l_partkey % 1000 AS DOUBLE) AS elev,
         CAST(l_suppkey % 20 AS DOUBLE) AS hab
  FROM lineitem
), dims AS (
  SELECT CAST(CEIL(COUNT(*) / 256.0) AS BIGINT) AS h,
         CAST(CEIL(COUNT(*) / 256.0) AS BIGINT) * 256 - COUNT(*) AS pad
  FROM lineitem
)
"""

_CHANNELS = ("qty", "price", "elev", "hab")


def _cache_dir(sf_dir: str) -> str:
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # tmpfs when available: this sandbox's lone disk does ~130 MB/s and its
    # page cache is reclaimed aggressively (DAMON pageout), which buries
    # engine time under storage noise.  A cluster's input bandwidth scales
    # with nodes; fixtures in RAM keep the benchmark about the engine.
    root = "/dev/shm/yg_spark_rasters" if os.path.isdir("/dev/shm") else "/tmp/yg_spark_rasters"
    return f"{root}/{digest}"


def lineitem_rasters(sf_dir: str) -> dict[str, ParquetRasterLayer]:
    """Build (or reuse) the four channel rasters for a scale-factor dir."""
    base = _cache_dir(sf_dir)
    if not all(
        os.path.exists(os.path.join(base, ch, "_raster_meta.json")) for ch in _CHANNELS
    ):
        import pyarrow.parquet as pq

        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                     "l_quantity", "l_extendedprice"],
        )
        cols = {name: table.column(name).to_numpy() for name in table.column_names}
        order = np.lexsort(
            (cols["l_suppkey"], cols["l_partkey"], cols["l_linenumber"], cols["l_orderkey"])
        )
        n = len(order)
        height = math.ceil(n / RASTER_W)
        values = {
            "qty": cols["l_quantity"][order].astype(np.float64),
            "price": np.floor(cols["l_extendedprice"][order]).astype(np.float64),
            "elev": (cols["l_partkey"][order] % 1000).astype(np.float64),
            "hab": (cols["l_suppkey"][order] % 20).astype(np.float64),
        }
        area = Area(0.0, 0.0, RASTER_W * STEP, -height * STEP, PROJ)
        os.makedirs(base, exist_ok=True)
        for ch in _CHANNELS:
            grid = np.zeros(height * RASTER_W, dtype=np.float64)
            grid[:n] = values[ch]
            write_array_as_raster_table(
                os.path.join(base, ch), grid.reshape(height, RASTER_W), area
            )
    return {ch: ParquetRasterLayer(os.path.join(base, ch), name=ch) for ch in _CHANNELS}


def raster_height(sf_dir: str) -> int:
    layer = lineitem_rasters(sf_dir)["qty"]
    return layer.window.ysize


def scalar_df(spark, value: float, column: str = "value"):
    """A one-row DataFrame carrying an aggregate result."""
    return spark.createDataFrame([(float(value),)], f"{column} double")


def area_pixel_sql(lat_center_expr: str) -> str:
    """DuckDB mirror of ``reprojection.area_of_pixel_m2`` for the lineitem
    raster grid (0.01-degree pixels): pixel area in m² as a function of the
    pixel's center latitude.

    Bit-exactness strategy: every constant the Python kernel derives
    (eccentricity, pi*b², 2e, deg->rad factor, x_scale/360) is computed HERE
    with the identical Python expressions and inlined as a full-precision
    literal, so the SQL performs the same double ops in the same order and
    both engines call the same libm sin/ln.  The per-pixel value is rounded
    to whole m² before aggregation, which absorbs any residual 1-ulp
    divergence and keeps the float64 sum fold-order-free."""
    import math  # pylint: disable=C0415

    from .reprojection import WGS84_A_B  # pylint: disable=C0415

    semi_major, semi_minor = WGS84_A_B
    e = math.sqrt(1 - (semi_minor / semi_major) ** 2)
    pb2 = math.pi * semi_minor**2
    two_e = 2 * e
    deg2rad = math.radians(1.0)
    xs360 = STEP / 360.0

    def band(lat_expr: str) -> str:
        s = f"sin(({lat_expr}) * {deg2rad!r})"
        zm = f"(1 - {e!r} * {s})"
        zp = f"(1 + {e!r} * {s})"
        return f"{pb2!r} * ((ln({zp} / {zm}) / {two_e!r}) + ({s} / ({zp} * {zm})))"

    top = band(f"({lat_center_expr}) + (-0.005)")
    bottom = band(f"({lat_center_expr}) - (-0.005)")
    return f"abs({xs360!r} * (({top}) - ({bottom})))"


# Center latitude of lineitem-raster row j as the AreaPerPixelLayer kernel
# computes it: the layer's own global grid has top = 90.0 and row offset
# 9000 + j for the raster's row j, so the double is
# 90.0 + (9000 + j + 0.5) * (-0.01) — NOT bit-equal to -(j + 0.5) * 0.01.
AREA_LAT_CENTER_SQL = "90.0 + (9000 + (i // 256) + 0.5) * (-0.01)"


# -- derived point set for the spatial-join oracles ---------------------------
#
# Customers become points by exact integer arithmetic, so DuckDB can replicate
# the coordinates bit-for-bit:
#   lat = (c_custkey % 160) - 80 + 0.25
#   lng = ((c_custkey * 7) % 360) - 180 + 0.25

POINTS_SQL = """
SELECT c_custkey,
       CAST((c_custkey % 160) - 80 + 0.25 AS DOUBLE) AS lat,
       CAST(((c_custkey * 7) % 360) - 180 + 0.25 AS DOUBLE) AS lng
FROM customer
"""


def customer_points(spark, sf_dir: str):
    from pyspark.sql import functions as F

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 160) - 80 + 0.25).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 360) - 180 + 0.25).cast("double").alias("lng"),
    )


def cell_assign_sql(res: int) -> str:
    """The engine's cell id in pure SQL (exact integer arithmetic)."""
    rows = 1 << res
    cols = 1 << (res + 1)
    row = f"CAST(floor((90.0 - lat) / (180.0 / {rows})) AS BIGINT)"
    col = f"CAST(floor((((lng + 180.0) % 360.0) + 0.0) / (360.0 / {cols})) AS BIGINT)"
    row_c = f"least(greatest({row}, 0), {rows - 1})"
    col_c = f"least(greatest({col}, 0), {cols - 1})"
    return f"({res} * (1::BIGINT << 56)) + ({row_c} * (1::BIGINT << 28)) + {col_c}"


BENCH_W = 2048


def bench_rasters(sf_dir: str, repeat: int = 48) -> dict[str, "ParquetRasterLayer"]:
    """Scale-representative rasters for benchmarking: the lineitem channel
    values tiled ``repeat`` times into a ``BENCH_W``-wide grid (aligned to the
    512 storage tile), so raster queries are compute/IO-bound rather than
    stage-latency-bound at small scale factors.  Cached per (sf_dir, repeat).
    """
    import pyarrow.parquet as pq

    base = os.path.join(_cache_dir(sf_dir), f"bench_r{repeat}")
    names = ("qty", "price", "elev", "hab")
    if not all(
        os.path.exists(os.path.join(base, ch, "_raster_meta.json")) for ch in names
    ):
        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_quantity", "l_extendedprice", "l_partkey", "l_suppkey"],
        )
        channels = {
            "qty": table.column("l_quantity").to_numpy().astype(np.float64),
            "price": np.floor(table.column("l_extendedprice").to_numpy()).astype(np.float64),
            "elev": (table.column("l_partkey").to_numpy() % 1000).astype(np.float64),
            "hab": (table.column("l_suppkey").to_numpy() % 20).astype(np.float64),
        }
        n = len(channels["qty"]) * repeat
        height = math.ceil(n / BENCH_W)
        os.makedirs(base, exist_ok=True)
        area = Area(0.0, 0.0, BENCH_W * STEP, -height * STEP, PROJ)
        for ch, vals in channels.items():
            grid = np.zeros(height * BENCH_W, dtype=np.float64)
            tiled = np.tile(vals, repeat)
            grid[: len(tiled)] = tiled
            write_array_as_raster_table(
                os.path.join(base, ch), grid.reshape(height, BENCH_W), area
            )
    return {ch: ParquetRasterLayer(os.path.join(base, ch), name=f"bench_{ch}") for ch in names}


def prewarm_files(paths: list[str]) -> None:
    """Read files (or directories of files) once so they sit in page cache;
    benchmark setup only."""
    for p in paths:
        files = [p]
        if os.path.isdir(p):
            files = [os.path.join(p, f) for f in os.listdir(p)]
        for f in files:
            if os.path.isfile(f):
                with open(f, "rb") as fp:
                    while fp.read(1 << 24):
                        pass


def bench_pages(spark, sf_dir: str, n_rows: int, res: int = 6, seed: int = 42) -> str:
    """Materialise the synthetic enriched-pages corpus as a zstd parquet
    table (once, untimed) and return its path.  Bench queries then read a
    STORED table — scan + one Python eval per task — matching how a real
    crawl corpus is consumed; generator-fed queries chain multiple Python
    workers per task (measured 3x slower and erratic)."""
    from .spatial import pages as pages_mod

    path = os.path.join(_cache_dir(sf_dir), f"pages_n{n_rows}_r{res}_s{seed}_v2")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # ~12k rows (~1.5 MB zstd) per file: a 100 TB crawl table has millions
        # of row groups, so a reader is never split-starved; the small fixture
        # must reproduce that or the Python-UDF stages cap at the writer's
        # width (measured: 800k docs landed in 16 row groups -> at most 16
        # signature tasks on 32 cores, flattening the 8->32 scaling curve).
        n_files = max(8, min(512, n_rows // 12000))
        (
            pages_mod.enriched_pages(spark, n_rows, res=res, seed=seed)
            .repartition(n_files)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.block.size", 4 * 1024 * 1024)
            .parquet(path)
        )
    return path


def bench_mosaic_children(sf_dir: str, repeat: int = 48,
                          n_children: int = 6, overlap: int = 32) -> list[str]:
    """Write (once) N overlapping horizontal strips of the bench qty grid as
    separate parquet rasters — the GroupLayer/mosaic benchmark fixture.
    Overlapping rows carry identical data, so first-wins compositing makes
    the mosaic bit-equal to the full raster (sum is invariant-checkable)."""
    base = os.path.join(_cache_dir(sf_dir), f"bench_mosaic_r{repeat}_n{n_children}")
    paths = [os.path.join(base, f"child_{i}") for i in range(n_children)]
    if not all(os.path.exists(os.path.join(p, "_raster_meta.json")) for p in paths):
        import pyarrow.parquet as pq

        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"), columns=["l_quantity"]
        )
        qty = table.column("l_quantity").to_numpy().astype(np.int16)
        n = len(qty) * repeat
        height = math.ceil(n / BENCH_W)
        grid = np.zeros(height * BENCH_W, dtype=np.int16)
        tiled = np.tile(qty, repeat)
        grid[: len(tiled)] = tiled
        grid = grid.reshape(height, BENCH_W)
        strip = math.ceil(height / n_children)
        os.makedirs(base, exist_ok=True)
        for i, p in enumerate(paths):
            y0 = max(i * strip - (overlap if i else 0), 0)
            y1 = min((i + 1) * strip, height)
            area = Area(0.0, -y0 * STEP, BENCH_W * STEP, -y1 * STEP, PROJ)
            write_array_as_raster_table(p, grid[y0:y1], area)
    return paths


def bench_rasters_multiband(sf_dir: str, repeat: int = 48) -> dict[str, ParquetRasterLayer]:
    """The bench channels as per-band (planar) tables on one shared grid.

    Channels are stored at their natural width (qty/elev/hab fit int16;
    price, which no bench query touches, is a separate int32 table) — at
    100 TB the scan-byte budget is the throughput ceiling, so a 4x narrower
    dtype + zstd is a 4x cheaper query.  The layer algebra's numpy coercion
    (np.result_type) and float64 sum promotion keep results integer-exact.

    Layout note (r6): the channels were previously ONE interleaved
    multiband table, which gave multi-channel expressions a zero-shuffle
    single scan but forced every single-channel query (conv2d, unique,
    the save input) to decode ALL bands' payloads — 3x the bytes for a
    1-band read, and row-group band statistics cannot prune interleaved
    groups.  Planar per-band tables keep the single scan for
    multi-channel expressions (a tile-grid task reads the same tile run
    of every band table, whose row groups hold the same tiles) while
    1-band queries decode only their own band — the 100 TB-correct
    layout for mixed workloads.
    """
    base = os.path.join(_cache_dir(sf_dir), f"bench_pb16_r{repeat}")
    names = ("qty", "elev", "hab")
    price_path = os.path.join(base, "price_i32")
    if not all(
        os.path.exists(os.path.join(base, ch, "_raster_meta.json"))
        for ch in names
    ):
        import pyarrow.parquet as pq

        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_quantity", "l_extendedprice", "l_partkey", "l_suppkey"],
        )
        channels = {
            "qty": table.column("l_quantity").to_numpy().astype(np.int16),
            "elev": (table.column("l_partkey").to_numpy() % 1000).astype(np.int16),
            "hab": (table.column("l_suppkey").to_numpy() % 20).astype(np.int16),
        }
        price = np.floor(table.column("l_extendedprice").to_numpy()).astype(np.int32)
        n = len(channels["qty"]) * repeat
        height = math.ceil(n / BENCH_W)
        area = Area(0.0, 0.0, BENCH_W * STEP, -height * STEP, PROJ)
        os.makedirs(base, exist_ok=True)
        for ch in names:
            grid = np.zeros(height * BENCH_W, dtype=np.int16)
            tiled = np.tile(channels[ch], repeat)
            grid[: len(tiled)] = tiled
            write_array_as_raster_table(
                os.path.join(base, ch), grid.reshape(height, BENCH_W), area
            )
        pgrid = np.zeros(height * BENCH_W, dtype=np.int32)
        ptiled = np.tile(price, repeat)
        pgrid[: len(ptiled)] = ptiled
        write_array_as_raster_table(price_path, pgrid.reshape(height, BENCH_W), area)
    layers = {
        ch: ParquetRasterLayer(os.path.join(base, ch), name=f"pb_{ch}")
        for ch in names
    }
    layers["price"] = ParquetRasterLayer(price_path, name="bench_price")
    return layers
