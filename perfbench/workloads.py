"""The benchmark's workloads, their seeded inputs and their oracles.

Each workload generates its inputs from the seed into a fresh directory with
the library's public writers, opens them, and exposes an ordered list of
steps.  A step is one or more terminal actions; its result is checked
against an oracle that does not go through Spark (numpy over the generated
arrays, brute force over the generated points), or, where no independent
oracle exists, against the first result of the same run.

Sizes are set so that one run of every workload fits the benchmark's time
budget on a 4-core host; they are recorded in each run's output.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import yirgacheffe_spark as yg
from yirgacheffe_spark.grid import Area, MapProjection
from yirgacheffe_spark.plans.kernel import evaluate_window
from yirgacheffe_spark.sources.parquet import (
    ParquetRasterLayer,
    read_tile_manifest,
    write_array_as_raster_table,
)

STEP_DEG = 0.01
PROJ = MapProjection("epsg:4326", STEP_DEG, -STEP_DEG)
TILE = 512

# raster
RASTER_H, RASTER_W = 3072, 2048
MOSAIC_CHILDREN, MOSAIC_OVERLAP = 6, 32
WINDOW = 256
WINDOWS_PER_PASS = 4
KERNEL_TILES = 2
# pages_pipeline
PAGES_N = 30_000
ENRICH_N = 30_000
MINHASH_N = 10_000
KNN_QUERIES = 256
KNN_K = 10
KNN_CHECKED = 8
PIP_POLYGONS = [
    (1, (-76.0, 38.5, -72.0, 42.5)),
    (2, (-2.0, 49.5, 2.0, 53.5)),
    (3, (135.0, 33.0, 143.0, 38.0)),
]
# Pages lie between 60 S and 75 N.  Queries outside that band cannot be
# settled by the density-based disk search and take the exact fallback.  A
# fixed number of them (both poles among them) keeps the fallback's share
# of the work the same for every seed.
KNN_SPECIAL = [(-75.0, 30.0), (89.9, 45.0), (-89.9, -120.0)]
KNN_EMPTY = 16
POPULATED_LAT = (-60.0, 75.0)


@dataclass
class Step:
    name: str
    run: Callable[[Any], Any]
    # result -> (actions attempted, actions failed)
    check: Callable[[Any], tuple[int, int]]


def _one(ok: bool) -> tuple[int, int]:
    return 1, 0 if ok else 1


def _first_seen(store: dict, key: str, value) -> bool:
    """True when ``value`` equals the first value recorded under ``key``."""
    return store.setdefault(key, value) == value


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


# -- rasters ------------------------------------------------------------------


def _area(y0: int, y1: int, width: int) -> Area:
    return Area(0.0, -y0 * STEP_DEG, width * STEP_DEG, -y1 * STEP_DEG, PROJ)


def raster_arrays(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    shape = (RASTER_H, RASTER_W)
    return {
        "qty": rng.integers(1, 51, shape, dtype=np.int16),
        "elev": rng.integers(0, 1000, shape, dtype=np.int16),
        "hab": rng.integers(0, 20, shape, dtype=np.int16),
    }


def aoh(layers):
    return (
        layers["hab"].isin([1.0, 5.0, 7.0, 11.0])
        * ((layers["elev"] >= 100) & (layers["elev"] <= 800))
        * layers["qty"]
    )


def aoh_np(a) -> np.ndarray:
    return (np.isin(a["hab"], [1, 5, 7, 11])
            & (a["elev"] >= 100) & (a["elev"] <= 800)) * a["qty"].astype(np.int64)


CONV_WEIGHTS = np.ones((5, 5), dtype=np.float32)


def conv_sum_np(qty: np.ndarray) -> float:
    """Sum of a zero-padded 5x5 box filter: each pixel counts once per
    output pixel whose window covers it."""
    def cover(n):
        i = np.arange(n)
        return (np.minimum(i, 2) + np.minimum(n - 1 - i, 2) + 1).astype(np.int64)
    return float(cover(qty.shape[0]) @ qty.astype(np.int64) @ cover(qty.shape[1]))


def conv_window_np(qty: np.ndarray, x: int, y: int, w: int, h: int) -> np.ndarray:
    padded = np.pad(qty.astype(np.int64), 2)
    return sum(padded[y + dy: y + dy + h, x + dx: x + dx + w]
               for dy in range(5) for dx in range(5))


def save_np(a) -> np.ndarray:
    return a["qty"].astype(np.int64) * 2 + a["elev"]


class Raster:
    """The tiled layer algebra: whole-raster reductions (scan, decode, tile
    kernel, halo and mosaic paths), a save into a fresh directory, a cold
    read of what was just written, and small windowed reads (query
    planning and job launch)."""

    name = "raster"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.arrays = raster_arrays(seed)
        # Every pass reads the same seeded windows, so passes do equal work
        # and a traced pass submits the same jobs in every run of a seed.
        rng = np.random.default_rng(seed + 2)
        self.windows = [(int(rng.integers(0, RASTER_W - WINDOW + 1)),
                         int(rng.integers(0, RASTER_H - WINDOW + 1)))
                        for _ in range(WINDOWS_PER_PASS)]
        # Latency of each window read in untraced passes.
        self.window_ms: list[float] = []
        self.save_count = 0
        self.out_path = ""
        self.write_stats: dict = {}

    def sizes(self) -> dict:
        return {"raster_px_per_band": RASTER_H * RASTER_W,
                "raster_shape": [RASTER_H, RASTER_W], "tile": TILE,
                "mosaic_children": MOSAIC_CHILDREN, "mosaic_overlap_rows": MOSAIC_OVERLAP,
                "window": WINDOW, "windows_per_pass": WINDOWS_PER_PASS}

    def generate(self, dest: str) -> None:
        for name, arr in self.arrays.items():
            write_array_as_raster_table(os.path.join(dest, name), arr,
                                        _area(0, RASTER_H, RASTER_W))
        # Overlapping horizontal strips of qty: first-wins compositing of
        # identical overlap rows makes the mosaic equal to qty.
        strip = -(-RASTER_H // MOSAIC_CHILDREN)
        for i in range(MOSAIC_CHILDREN):
            y0 = max(i * strip - (MOSAIC_OVERLAP if i else 0), 0)
            y1 = min((i + 1) * strip, RASTER_H)
            write_array_as_raster_table(
                os.path.join(dest, f"mosaic_{i}"), self.arrays["qty"][y0:y1],
                _area(y0, y1, RASTER_W))

    def open(self, dest: str) -> None:
        """Open each band table, meta plus manifest, timing each open (the
        manifest cache is cold for a fresh directory)."""
        self.layers, self.open_ms = {}, []
        for name in self.arrays:
            t0 = time.perf_counter()
            path = os.path.join(dest, name)
            self.layers[name] = ParquetRasterLayer(path, name=name)
            read_tile_manifest(path)
            self.open_ms.append(_ms(t0))
        self.mosaic_paths = [os.path.join(dest, f"mosaic_{i}") for i in range(MOSAIC_CHILDREN)]
        self.out_root = os.path.join(dest, "saved")

    def prepare_oracle(self) -> None:
        a = self.arrays
        self.aoh = aoh_np(a)
        self.expect = {
            "aoh_mask_sum": float(self.aoh.sum()),
            "conv2d_sum": conv_sum_np(a["qty"]),
            "mosaic_sum": float(a["qty"].sum(dtype=np.int64)),
            "unique_vals": np.unique(a["hab"] % 7).astype(np.float64),
            "readback_sum": float(save_np(a).sum()),
        }

    def expressions(self) -> dict:
        """step -> (expression, numpy oracle of a window (x, y, w, h));
        window_read reads windows of the aoh_mask_sum expression."""
        a, L = self.arrays, self.layers

        def cut(x, y, w, h):
            return {k: v[y:y + h, x:x + w] for k, v in a.items()}

        return {
            "aoh_mask_sum": (aoh(L), lambda x, y, w, h: self.aoh[y:y + h, x:x + w]),
            "conv2d_sum": (L["qty"].conv2d(CONV_WEIGHTS),
                           lambda x, y, w, h: conv_window_np(a["qty"], x, y, w, h)),
            "mosaic_sum": (yg.GroupLayer.layer_from_files(self.mosaic_paths, "mosaic"),
                           lambda x, y, w, h: a["qty"][y:y + h, x:x + w]),
            "unique_vals": (L["hab"] % 7, lambda x, y, w, h: cut(x, y, w, h)["hab"] % 7),
            "save_tiles": (L["qty"] * 2 + L["elev"], lambda x, y, w, h: save_np(cut(x, y, w, h))),
        }

    def end_pass(self) -> None:
        """Record what the pass's save wrote, then delete it."""
        if not os.path.isdir(self.out_path):
            return
        files = [f for f in os.listdir(self.out_path) if f.endswith(".parquet")]
        written = sum(os.path.getsize(os.path.join(self.out_path, f)) for f in files)
        self.write_stats = {"parquet.files_written": len(files),
                            "parquet.write_bytes_per_px": written / (RASTER_H * RASTER_W)}
        shutil.rmtree(self.out_path)

    def steps(self) -> list[Step]:
        spark = self.spark

        def action(name, act):
            def run(tr):
                expr = self.expressions()[name][0]
                with tr.span("exec", group=True):
                    return act(expr)
            return run

        def equals(name):
            return lambda got: _one(got == self.expect[name])

        def save(tr):
            self.save_count += 1
            self.out_path = os.path.join(self.out_root, f"save_{self.save_count}")
            expr = self.expressions()["save_tiles"][0]
            with tr.span("exec", group=True):
                expr.save(self.out_path, spark=spark)
            return self.out_path

        def readback(tr):
            with tr.span("exec", group=True):
                return yg.read_raster(self.out_path).sum(spark=spark)

        def windows(tr):
            expr = self.expressions()["aoh_mask_sum"][0]
            out = []
            for x, y in self.windows:
                t0 = time.perf_counter()
                with tr.span("exec", group=True):
                    got = expr.read_array(x, y, WINDOW, WINDOW, spark=spark)
                if not tr.enabled:
                    self.window_ms.append(_ms(t0))
                out.append((x, y, got))
            return out

        def check_windows(got):
            bad = sum(
                not np.array_equal(np.asarray(arr, dtype=np.float64),
                                   self.aoh[y:y + WINDOW, x:x + WINDOW].astype(np.float64))
                for x, y, arr in got)
            return len(got), bad

        def check_unique(got):
            return _one(np.array_equal(np.asarray(got, dtype=np.float64),
                                       self.expect["unique_vals"]))

        return [
            Step("aoh_mask_sum", action("aoh_mask_sum", lambda e: e.sum(spark=spark)),
                 equals("aoh_mask_sum")),
            Step("conv2d_sum", action("conv2d_sum", lambda e: e.sum(spark=spark)),
                 equals("conv2d_sum")),
            Step("mosaic_sum", action("mosaic_sum", lambda e: e.sum(spark=spark)),
                 equals("mosaic_sum")),
            Step("unique_vals", action("unique_vals", lambda e: e.unique(spark=spark)),
                 check_unique),
            Step("save_tiles", save,
                 lambda path: _one(os.path.exists(os.path.join(path, "_raster_meta.json")))),
            Step("readback_sum", readback, equals("readback_sum")),
            Step("window_read", windows, check_windows),
        ]

    def probes(self, tr) -> tuple[dict, int]:
        """Per-layer figures measured beside the traced passes, and the
        number of probe results that failed their oracle check:
        ``operators.window_ms`` (build every expression and infer its
        window), ``<step>.plan_s``/``plan_jobs`` (``to_dataframe``),
        ``<step>.kernel_tile_ms`` (in-process ``evaluate_window`` on
        seeded full tiles, checked against numpy), ``parquet.open_ms`` and
        the last save's output size."""
        out: dict[str, float] = {}
        samples = []
        for _ in range(20):
            t0 = time.perf_counter()
            for expr, _oracle in self.expressions().values():
                _ = expr.window
            samples.append(_ms(t0))
        out["operators.window_ms"] = statistics.median(samples)

        rng = np.random.default_rng(self.seed + 1)
        tiles = [(int(rng.integers(RASTER_W // TILE)) * TILE,
                  int(rng.integers(RASTER_H // TILE)) * TILE) for _ in range(KERNEL_TILES)]
        failed = 0
        for step, (expr, oracle) in self.expressions().items():
            with tr.span(f"probe/{step}/plan", group=True):
                t0 = time.perf_counter()
                expr.to_dataframe(spark=self.spark)
                out[f"{step}.plan_s"] = time.perf_counter() - t0
            out[f"{step}.plan_jobs"] = tr.harvest(tr.groups_under(f"probe/{step}")[0])["jobs"]
            times = []
            for x, y in tiles:
                with tr.span(f"probe/{step}/kernel"):
                    t0 = time.perf_counter()
                    got = evaluate_window(expr, x, y, TILE, TILE)
                    times.append(_ms(t0))
                if not np.array_equal(np.asarray(got, dtype=np.float64),
                                      np.asarray(oracle(x, y, TILE, TILE), dtype=np.float64)):
                    failed += 1
            out[f"{step}.kernel_tile_ms"] = statistics.median(times)
        out["kernel_ms"] = sum(v for k, v in out.items() if k.endswith(".kernel_tile_ms"))
        out["open_ms"] = out["parquet.open_ms"] = statistics.median(self.open_ms)
        return {**out, **self.write_stats}, failed


# -- pages --------------------------------------------------------------------


def haversine_np(lat1, lng1, lat2, lng2):
    r = 6371008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin((np.radians(lng2) - np.radians(lng1)) / 2) ** 2)
    return 2 * r * np.arcsin(np.sqrt(a))


def _rect_wkt(x0, y0, x1, y1) -> str:
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


class PagesPipeline:
    """Shuffle and the Python-UDF boundary: page generation, spatial joins
    and text operators over a stored pages table; no raster layer runs."""

    name = "pages_pipeline"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        # Library seeds for the three page sets; distinct per bench seed.
        self.pages_seed = 1000 + 3 * seed
        self.minhash_seed = self.pages_seed + 1
        self.enrich_seed = self.pages_seed + 2
        rng = np.random.default_rng(seed)
        n_special = len(KNN_SPECIAL)
        n_populated = KNN_QUERIES - n_special - KNN_EMPTY
        empty_lat = np.where(rng.random(KNN_EMPTY) < 0.5,
                             rng.uniform(-89.9, POPULATED_LAT[0] - 1.0, KNN_EMPTY),
                             rng.uniform(POPULATED_LAT[1] + 1.0, 89.9, KNN_EMPTY))
        self.query_lat = np.concatenate([[p[0] for p in KNN_SPECIAL], empty_lat,
                                         rng.uniform(*POPULATED_LAT, n_populated)])
        self.query_lng = np.concatenate([[p[1] for p in KNN_SPECIAL],
                                         rng.uniform(-180.0, 180.0, KNN_QUERIES - n_special)])
        # The fixed special queries, then seeded others, are checked by
        # brute force.
        self.checked = list(range(n_special)) + [
            int(i) for i in rng.choice(np.arange(n_special, KNN_QUERIES),
                                       KNN_CHECKED - n_special, replace=False)]
        self.seen: dict = {}

    def sizes(self) -> dict:
        return {"pages": PAGES_N, "enrich_pages": ENRICH_N, "minhash_docs": MINHASH_N,
                "knn_queries": KNN_QUERIES, "knn_empty_region_queries": len(KNN_SPECIAL) + KNN_EMPTY,
                "knn_k": KNN_K, "pip_polygons": len(PIP_POLYGONS)}

    def generate(self, dest: str) -> None:
        from yirgacheffe_spark.spatial import pages

        for name, n, seed in (("pages", PAGES_N, self.pages_seed),
                              ("minhash", MINHASH_N, self.minhash_seed)):
            (pages.enriched_pages(self.spark, n, res=6, seed=seed)
             .write.option("compression", "zstd").parquet(os.path.join(dest, name)))

    def open(self, dest: str) -> None:
        import pandas as pd

        t0 = time.perf_counter()
        self.pages_df = self.spark.read.parquet(os.path.join(dest, "pages"))
        self.open_ms = [_ms(t0)]
        self.minhash_df = self.spark.read.parquet(os.path.join(dest, "minhash")).selectExpr(
            "url AS doc_id", "text")
        self.queries = self.spark.createDataFrame(pd.DataFrame(
            {"query_id": np.arange(KNN_QUERIES, dtype=np.int64),
             "lat": self.query_lat, "lng": self.query_lng}))

    def prepare_oracle(self) -> None:
        from yirgacheffe_spark.spatial import pages

        pts = self.pages_df.select("lat", "lng").toPandas()
        self.lat, self.lng = pts["lat"].to_numpy(), pts["lng"].to_numpy()
        self.pip_matches = int(sum(
            np.count_nonzero((self.lng > x0) & (self.lng < x1) & (self.lat > y0) & (self.lat < y1))
            for _pid, (x0, y0, x1, y1) in PIP_POLYGONS))
        self.knn_expect = {
            q: np.sort(haversine_np(self.lat, self.lng, self.query_lat[q], self.query_lng[q]))[:KNN_K]
            for q in self.checked}
        texts = pages.synthesize_batch(np.arange(PAGES_N), self.pages_seed)["text"]
        self.tokens = int(texts.str.split(" ").str.len().sum())
        self.distinct_texts = int(texts.nunique())
        batch = pages.synthesize_batch(np.arange(ENRICH_N), self.enrich_seed)
        self.enrich_matches = int((pages.extract_text_batch(batch["html"]) == batch["text"]).sum())

    def end_pass(self) -> None:
        pass

    def steps(self) -> list[Step]:
        from pyspark.sql import functions as F

        from yirgacheffe_spark.spatial import joins, pages
        from yirgacheffe_spark.text import dedup, quality

        spark = self.spark
        polygons = [{"poly_id": pid, "geom_wkt": _rect_wkt(*box)} for pid, box in PIP_POLYGONS]

        def enrich(tr):
            with tr.span("exec", group=True):
                return pages.enriched_pages(spark, ENRICH_N, res=7, seed=self.enrich_seed).where(
                    "extracted = text").count()

        def pip(tr):
            with tr.span("plan", group=True):
                df = joins.point_in_polygon_join(spark, self.pages_df, polygons, res=6)
            with tr.span("exec", group=True):
                return df.count()

        def knn(tr):
            with tr.span("plan", group=True):
                df = joins.knn_join_df(spark, self.pages_df, self.queries, k=KNN_K, res=6)
            with tr.span("exec", group=True):
                return df.select("query_id", "dist_m").toPandas()

        def check_knn(got):
            if len(got) != KNN_QUERIES * KNN_K:
                return _one(False)
            by_query = got.groupby("query_id")["dist_m"]
            ok = all(np.allclose(np.sort(by_query.get_group(q).to_numpy()), want,
                                 rtol=1e-9, atol=1e-3)
                     for q, want in self.knn_expect.items())
            return _one(ok)

        def text(tr):
            with tr.span("exec", group=True):
                row = self.pages_df.select(
                    quality.token_count(F.col("text")).alias("t"),
                    quality.quality_score(F.col("text")).alias("q"),
                    quality.fingerprint(F.col("text")).alias("fp"),
                ).agg(F.sum("t"), F.avg("q"), F.count_distinct("fp")).collect()[0]
            return int(row[0]), float(row[1]), int(row[2])

        def check_text(got):
            tokens, mean_quality, distinct = got
            return _one(tokens == self.tokens and distinct == self.distinct_texts
                        and _first_seen(self.seen, "quality", mean_quality))

        def minhash(tr):
            with tr.span("signatures", group=True):
                sigs = dedup.minhash_signatures(self.minhash_df, "text", "doc_id", num_perm=64,
                                                shingle_n=3, bands=16).persist()
                n_sigs = sigs.count()
            try:
                with tr.span("candidates", group=True):
                    pairs = dedup.minhash_lsh_candidates(sigs, "doc_id", bands=16).count()
            finally:
                sigs.unpersist()
            return n_sigs, pairs

        def check_minhash(got):
            n_sigs, pairs = got
            return _one(n_sigs == MINHASH_N and _first_seen(self.seen, "pairs", pairs))

        return [
            Step("pages_enrich", enrich, lambda got: _one(got == self.enrich_matches)),
            Step("pip_join", pip, lambda got: _one(
                got == self.pip_matches and _first_seen(self.seen, "pip_matches", got))),
            Step("knn_join", knn, check_knn),
            Step("text_quality", text, check_text),
            Step("minhash_lsh", minhash, check_minhash),
        ]

    def probes(self, tr) -> tuple[dict, int]:
        """``kernel_ms``: the page-enrichment kernels (synthesis, text
        extraction, geocode, cell assignment) on one in-process batch.
        ``open_ms``: opening the stored pages table."""
        from yirgacheffe_spark.spatial import cells, pages

        ids = np.arange(4096)
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            batch = pages.synthesize_batch(ids, self.enrich_seed)
            pages.extract_text_batch(batch["html"])
            geo = pages.geocode_batch(batch["url"], self.enrich_seed)
            cells.latlng_to_cell(geo["lat"].to_numpy(), geo["lng"].to_numpy(), 7)
            times.append(_ms(t0))
        return {"kernel_ms": statistics.median(times),
                "open_ms": statistics.median(self.open_ms),
                "pip_join.matches": self.seen["pip_matches"],
                "minhash_lsh.candidate_pairs": self.seen["pairs"]}, 0


WORKLOADS = {w.name: w for w in (Raster, PagesPipeline)}
