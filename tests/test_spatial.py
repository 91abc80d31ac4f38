"""North-rule pipeline: pages generation determinism, byte-identical text
extraction, cell index invariants, PIP/kNN joins vs brute-force oracles,
adaptive cell splitting, lineage resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from yirgacheffe_spark.spatial import cells as ci
from yirgacheffe_spark.spatial import joins, pages
from yirgacheffe_spark.spatial.lineage import CheckpointedRun


class TestCellIndex:
    def test_roundtrip_center(self):
        lat = np.array([0.0, 45.3, -89.9, 89.9, -33.8])
        lng = np.array([0.0, -122.4, 179.9, -180.0, 151.2])
        cells = ci.latlng_to_cell(lat, lng, 9)
        clat, clng = ci.cell_to_latlng(cells)
        again = ci.latlng_to_cell(clat, clng, 9)
        np.testing.assert_array_equal(cells, again)

    def test_partitioning_exact(self):
        rng = np.random.default_rng(42)
        lat = rng.uniform(-90, 90, 1000)
        lng = rng.uniform(-180, 180, 1000)
        cells = ci.latlng_to_cell(lat, lng, 5)
        s, w, n, e = ci.cell_bounds(cells)
        assert ((lat >= s) & (lat <= n)).all()
        # Longitude membership is half-open [west, east).
        assert ((lng >= w) & (lng < e)).all()

    def test_parent_nesting(self):
        cells = ci.latlng_to_cell(np.array([12.3]), np.array([45.6]), 10)
        for parent_res in (9, 5, 0):
            parent = ci.cell_parent(cells, parent_res)
            clat, clng = ci.cell_to_latlng(cells)
            direct = ci.latlng_to_cell(clat, clng, parent_res)
            np.testing.assert_array_equal(parent, direct)

    def test_children_cover_parent(self):
        cell = int(ci.latlng_to_cell(10.0, 20.0, 6))
        kids = ci.cell_children(cell)
        assert len(kids) == 4
        np.testing.assert_array_equal(
            np.unique(ci.cell_parent(kids, 6)), np.array([cell])
        )

    def test_grid_disk_and_ring(self):
        cell = int(ci.latlng_to_cell(10.0, 20.0, 6))
        disk1 = ci.grid_disk(cell, 1)
        assert len(disk1) == 9 and cell in disk1
        ring1 = ci.grid_ring(cell, 1)
        assert len(ring1) == 8 and cell not in ring1
        assert set(ring1) | {cell} == set(disk1)

    def test_grid_disk_wraps_antimeridian(self):
        cell = int(ci.latlng_to_cell(0.0, 179.95, 4))
        disk = ci.grid_disk(cell, 1)
        assert len(disk) == 9  # wrapped, not clipped

    def test_covering_bbox(self):
        cover = ci.cells_covering_bbox(-1.0, -1.0, 1.0, 1.0, 6)
        s, w, n, e = ci.cell_bounds(cover)
        assert (w <= 1.0).all() and (e >= -1.0).all()
        # a point inside the bbox maps to a covered cell
        assert int(ci.latlng_to_cell(0.5, 0.5, 6)) in set(cover.tolist())


class TestPages:
    def test_deterministic_and_partition_invariant(self, spark):
        a = pages.generate_pages(spark, 200, partitions=1).orderBy("url").collect()
        b = pages.generate_pages(spark, 200, partitions=7).orderBy("url").collect()
        assert a == b

    def test_extraction_byte_identical(self, spark):
        df = pages.enriched_pages(spark, 300, res=6)
        mismatches = df.where("extracted != text").count()
        assert mismatches == 0

    def test_html_text_column_real_markup(self, spark):
        """The general JVM HTML extractor: scripts/styles/comments drop,
        block structure becomes newlines, entities decode, whitespace
        collapses — all per hand-computed expectations."""
        import pandas as pd

        cases = [
            ("<html><head><title>T</title><style>p{color:red}</style></head>"
             "<body><h1>Header</h1><p>First &amp; second.</p>"
             "<script>var x = '<p>not text</p>';</script>"
             "<div>Block one</div><div>Block two</div>"
             "<!-- hidden comment --><ul><li>item a</li><li>item b</li></ul>"
             "line1<br>line2&nbsp;&lt;tag&gt;</body></html>",
             "T\nHeader\nFirst & second.\nBlock one\nBlock two\n"
             "item a\nitem b\nline1\nline2 <tag>"),
            ("no markup at all", "no markup at all"),
            ("<p>a</p>\n\n\n<p>b</p>", "a\nb"),
            ("&amp;amp;", "&amp;"),  # double-escape survives (&amp; last)
        ]
        df = spark.createDataFrame(pd.DataFrame({
            "html": [c[0].encode() for c in cases]}))
        got = [r["t"] for r in df.select(
            pages.html_text_column(F.col("html")).alias("t")).collect()]
        for (src, want), g in zip(cases, got):
            assert g == want, (src[:40], g)
        # string (non-binary) input path agrees
        df2 = spark.createDataFrame(pd.DataFrame({"html": [c[0] for c in cases]}))
        got2 = [r["t"] for r in df2.select(
            pages.html_text_column(F.col("html"), binary=False).alias("t")
        ).collect()]
        assert got2 == got

    def test_html_text_column_is_jvm_only(self, spark):
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame({"html": [b"<p>x</p>"]}))
        plan = df.select(
            pages.html_text_column(F.col("html")).alias("t")
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan

    def test_schema_matches_input_hint(self, spark):
        df = pages.generate_pages(spark, 10)
        assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
        dtypes = dict(df.dtypes)
        assert dtypes["warc_ts"] == "timestamp"
        assert dtypes["html"] == "binary"

    def test_enrich_existing_table_matches_fused_generator(self, spark):
        """enrich_pages_df (the cluster-ingest path over a stored crawl
        table) must produce exactly what the fused synthesize+enrich pass
        produces for the same pages."""
        stored = pages.generate_pages(spark, 250, partitions=3)
        a = (
            pages.enrich_pages_df(stored, res=5)
            .orderBy("url")
            .collect()
        )
        b = pages.enriched_pages(spark, 250, res=5).orderBy("url").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]

    def test_geocode_stable_per_url(self):
        urls = pd.Series(["https://a.example/1", "https://b.example/2"])
        g1 = pages.geocode_batch(urls)
        g2 = pages.geocode_batch(urls.iloc[::-1].reset_index(drop=True))
        assert g1["lat"][0] == g2["lat"][1]

    def test_hotspot_skew_exists(self, spark):
        df = pages.enriched_pages(spark, 2000, res=4)
        counts = df.groupBy("cell").count().orderBy("count", ascending=False).collect()
        # megacity hotspots concentrate pages: top cell far above uniform
        uniform = 2000 / len(counts)
        assert counts[0]["count"] > 5 * uniform


POLYGONS = [
    {"poly_id": 1, "geom_wkt": "POLYGON ((-75.0 39.5, -73.0 39.5, -73.0 41.5, -75.0 41.5, -75.0 39.5))"},
    {"poly_id": 2, "geom_wkt": "POLYGON ((-1.2 50.4, 0.9 50.4, 0.9 52.6, -1.2 52.6, -1.2 50.4))"},
    # Concave polygon spanning the equator region.
    {"poly_id": 3, "geom_wkt": "POLYGON ((0 0, 10 0, 10 10, 5 10, 5 5, 0 5, 0 0))"},
]


class TestPIPJoin:
    def test_matches_brute_force(self, spark):
        df = pages.enriched_pages(spark, 1500, res=5).cache()
        got = (
            joins.point_in_polygon_join(spark, df, POLYGONS, res=5)
            .select("url", "poly_id")
            .collect()
        )
        got_set = {(r["url"], r["poly_id"]) for r in got}

        rows = df.select("url", "lat", "lng").collect()
        from yirgacheffe_spark.sources.vector import parse_wkt_polygon

        want = set()
        for poly in POLYGONS:
            rings = parse_wkt_polygon(poly["geom_wkt"])
            lat = np.array([r["lat"] for r in rows])
            lng = np.array([r["lng"] for r in rows])
            inside = joins.points_in_rings(lat, lng, rings)
            for r, hit in zip(rows, inside):
                if hit:
                    want.add((r["url"], poly["poly_id"]))
        assert got_set == want
        assert len(got_set) > 0  # non-degenerate fixture

    def test_all_candidates_filtered_exactly(self, spark):
        # A point in the concavity of polygon 3 must be excluded.
        pdf = pd.DataFrame(
            {
                "url": ["u1", "u2"],
                "lat": [7.5, 2.0],     # u1 in concavity notch, u2 inside
                "lng": [2.0, 2.0],
                "cell": ci.latlng_to_cell(np.array([7.5, 2.0]), np.array([2.0, 2.0]), 5),
            }
        )
        df = spark.createDataFrame(pdf)
        got = joins.point_in_polygon_join(spark, df, POLYGONS, res=5).select("url").collect()
        assert {r["url"] for r in got} == {"u2"}


class TestKNN:
    def test_matches_brute_force(self, spark):
        df = pages.enriched_pages(spark, 800, res=4).cache()
        queries = [
            {"query_id": 1, "lat": 40.7, "lng": -74.0},   # hotspot (dense)
            {"query_id": 2, "lat": -50.0, "lng": 100.0},  # ocean (sparse)
        ]
        got = joins.knn_join(spark, df, queries, k=5, res=4)
        got_rows = got.orderBy("query_id", "rank").collect()

        rows = df.select("url", "lat", "lng").collect()
        lat = np.array([r["lat"] for r in rows])
        lng = np.array([r["lng"] for r in rows])
        urls = np.array([r["url"] for r in rows])
        for q in queries:
            d = joins.haversine_m(lat, lng, q["lat"], q["lng"])
            order = np.lexsort((urls, d))[:5]
            want = list(urls[order])
            mine = [r["url"] for r in got_rows if r["query_id"] == q["query_id"]]
            assert mine == want, f"query {q['query_id']}"


class TestSkew:
    def test_adaptive_cells_bounds_partitions(self, spark):
        df = pages.enriched_pages(spark, 3000, res=3)
        out = joins.adaptive_cells(df, res=3, max_rows=150, max_extra_levels=4)
        counts = [r["n"] for r in out.groupBy("part_cell").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()]
        # Bounded unless splitting bottomed out (levels exhausted); with 4
        # extra levels each cell shrinks 256x, plenty for this fixture.
        assert max(counts) <= 150
        # Splitting must not lose or duplicate rows.
        assert sum(counts) == 3000


class TestLineage:
    def test_resume_skips_completed(self, spark, tmp_path):
        path = str(tmp_path / "ckpt")
        calls = []

        def task(s, task_id):
            calls.append(task_id)
            return s.range(task_id * 10, task_id * 10 + 10)

        run = CheckpointedRun(spark, path)
        run.run([0, 1], task)
        assert sorted(calls) == [0, 1]

        # Second invocation adds task 2; 0 and 1 are not re-executed.
        run2 = CheckpointedRun(spark, path)
        out = run2.run([0, 1, 2], task)
        assert sorted(calls) == [0, 1, 2]
        assert out.count() == 30

        lineage = run2.lineage()
        assert set(lineage["task_id"]) == {0, 1, 2}
        assert (lineage["rows"] == 10).all()


class TestKNNTable:
    def test_table_vs_table_matches_brute_force(self, spark):
        df = pages.enriched_pages(spark, 1200, res=4).cache()
        qpdf = pd.DataFrame(
            {
                "query_id": np.arange(60),
                "lat": ((np.arange(60) * 37) % 160) - 80 + 0.5,
                "lng": ((np.arange(60) * 91) % 360) - 180 + 0.5,
            }
        )
        got = joins.knn_join_df(
            spark, df, spark.createDataFrame(qpdf), k=3, res=4, max_ring=32
        )
        got_rows = got.orderBy("query_id", "rank").collect()

        rows = df.select("url", "lat", "lng").collect()
        lat = np.array([r["lat"] for r in rows])
        lng = np.array([r["lng"] for r in rows])
        urls = np.array([r["url"] for r in rows])
        for q in qpdf.itertuples():
            d = joins.haversine_m(lat, lng, q.lat, q.lng)
            order = np.lexsort((urls, d))[:3]
            want = list(urls[order])
            mine = [r["url"] for r in got_rows if r["query_id"] == q.query_id]
            assert mine == want, f"query {q.query_id}"


def test_pip_table_shuffle_path_matches_broadcast(spark):
    df = pages.enriched_pages(spark, 600, res=4).cache()
    poly_pdf = pd.DataFrame(
        {
            "poly_id": [1, 2],
            "geom_wkt": [
                "POLYGON ((-80 30, -60 30, -60 48, -80 48, -80 30))",
                "POLYGON ((0 -20, 35 -20, 35 15, 0 15, 0 -20))",
            ],
        }
    )
    polys = spark.createDataFrame(poly_pdf)
    a = {(r["url"], r["poly_id"]) for r in
         joins.point_in_polygon_join_df(spark, df, polys, res=4, broadcast=True)
         .select("url", "poly_id").collect()}
    b = {(r["url"], r["poly_id"]) for r in
         joins.point_in_polygon_join_df(spark, df, polys, res=4, broadcast=False)
         .select("url", "poly_id").collect()}
    assert a == b and a


def test_salted_is_deterministic_under_recompute(spark):
    """Salt must derive from row content, not positional ids: a recomputed
    partition (task retry) must assign every row the same salt."""
    df = pages.enriched_pages(spark, 300, res=4).select("url", "cell")
    a = {(r["url"], r["salt"]) for r in joins.salted(df, "cell").collect()}
    # Recompute from scratch (fresh lineage, different partitioning).
    b = {
        (r["url"], r["salt"])
        for r in joins.salted(df.repartition(7), "cell").collect()
    }
    assert a == b
    assert len({s for _, s in a}) > 1  # salt actually spreads


def test_knn_escalation_path_exact(spark):
    """A longitude void: pages cluster in the western hemisphere and every
    latitude band holds some, but the eastern queries' nearest pages are
    thousands of km away — the answer must still be the exact brute-force
    one."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 4000
    lat = rng.uniform(-30, 30, n)
    lng = rng.uniform(-170, -60, n)  # western hemisphere only
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(n)],
        "lat": lat, "lng": lng,
    })
    pts = spark.createDataFrame(pdf).withColumn(
        "cell", joins.cell_expr("lat", "lng", 5)
    )
    qdf = spark.createDataFrame(pd.DataFrame({
        "query_id": [1, 2],
        "lat": [5.0, -5.0],
        "lng": [120.0, 150.0],  # far east of every page
    }))
    out = joins.knn_join_df(spark, pts, qdf, k=4, res=5, max_ring=64).collect()
    d = joins.haversine_m
    for qid, qla, qln in [(1, 5.0, 120.0), (2, -5.0, 150.0)]:
        dist = d(lat, lng, qla, qln)
        order = np.lexsort((pdf["url"].to_numpy(), dist))[:4]
        want = list(pdf["url"].to_numpy()[order])
        got = [r["url"] for r in sorted(
            (r for r in out if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got == want, qid


def test_zonal_sum_matches_per_polygon_loop(spark):
    """zonal_sum (one pass, all polygons) must equal the reference-style
    per-polygon loop (expr * read_shape(poly)).sum() exactly."""
    import yirgacheffe_spark as yg

    rng = np.random.default_rng(23)
    data = rng.integers(0, 9, (20, 30)).astype(np.float64)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    layer = yg.from_array(data, (0.0, 0.0), proj)
    polys = [
        {"poly_id": 1, "geom_wkt":
            "POLYGON ((0.021 -0.021, 0.119 -0.021, 0.119 -0.079, 0.021 -0.079, 0.021 -0.021))"},
        {"poly_id": 2, "geom_wkt":
            "POLYGON ((0.151 -0.101, 0.289 -0.101, 0.289 -0.189, 0.151 -0.189, 0.151 -0.101))"},
        # overlapping the first
        {"poly_id": 3, "geom_wkt":
            "POLYGON ((0.051 -0.051, 0.201 -0.051, 0.201 -0.121, 0.051 -0.121, 0.051 -0.051))"},
    ]
    expr = layer * 2 + 1
    got = {
        r["poly_id"]: r["zsum"]
        for r in yg.zonal_sum(expr, polys, spark=spark).collect()
    }
    for f in polys:
        mask = yg.read_shape([f], proj, burn_value=1)
        want = (expr * mask).sum(spark=spark)
        assert got[f["poly_id"]] == want, f["poly_id"]


def test_zonal_stats_full_columns(spark):
    import yirgacheffe_spark as yg

    rng = np.random.default_rng(31)
    data = rng.integers(1, 9, (16, 24)).astype(np.float64)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    layer = yg.from_array(data, (0.0, 0.0), proj)
    f = {"poly_id": 7, "geom_wkt":
         "POLYGON ((0.033 -0.033, 0.177 -0.033, 0.177 -0.117, 0.033 -0.117, 0.033 -0.033))"}
    row = yg.zonal_stats(layer, [f], spark=spark).collect()[0]
    mask = np.zeros_like(data)
    from yirgacheffe_spark.sources.vector import parse_wkt_polygon, rasterize_rings
    rasterize_rings(parse_wkt_polygon(f["geom_wkt"]), 1.0, mask, 0.0, 0.0, 0.01, -0.01)
    sel = mask > 0
    assert row["n_pixels"] == int(sel.sum())
    assert row["zsum"] == float(data[sel].sum())
    assert row["zmin"] == data[sel].min() and row["zmax"] == data[sel].max()
    assert row["zmean"] == pytest.approx(data[sel].mean())


def test_knn_correct_with_density_cache_disabled(spark, monkeypatch):
    """_plan_identity leans on private Spark API (_jdf + semanticHash); if
    a backend (e.g. Spark Connect) removes it, caching silently disables —
    results must be identical either way."""
    rng = np.random.default_rng(17)
    n = 800
    pts = spark.createDataFrame(pd.DataFrame({
        "url": [f"u{i}" for i in range(n)],
        "lat": rng.uniform(-60, 60, n),
        "lng": rng.uniform(-180, 180, n),
    })).withColumn("cell", joins.cell_expr("lat", "lng", 5))
    qdf = spark.createDataFrame(pd.DataFrame({
        "query_id": [1, 2], "lat": [10.5, -30.5], "lng": [20.5, -120.5]}))
    cached = {(r["query_id"], r["rank"]): r["url"] for r in
              joins.knn_join_df(spark, pts, qdf, k=5, res=5).collect()}
    monkeypatch.setattr(joins, "_plan_identity", lambda df: None)
    joins.invalidate_density_cache()
    uncached = {(r["query_id"], r["rank"]): r["url"] for r in
                joins.knn_join_df(spark, pts, qdf, k=5, res=5).collect()}
    assert cached == uncached and len(cached) == 10


def test_zonal_stats_dataframe_polygon_side(spark):
    import yirgacheffe_spark as yg

    data = np.arange(100, dtype=np.float64).reshape(10, 10)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    layer = yg.from_array(data, (0.0, 0.0), proj)
    polys = spark.createDataFrame(
        [(4, "POLYGON ((0.013 -0.013, 0.057 -0.013, 0.057 -0.047, 0.013 -0.047, 0.013 -0.013))")],
        "poly_id long, geom_wkt string",
    )
    df_row = yg.zonal_stats(layer, polys, spark=spark).collect()[0]
    list_row = yg.zonal_stats(
        layer,
        [{"poly_id": 4, "geom_wkt": polys.collect()[0]["geom_wkt"]}],
        spark=spark,
    ).collect()[0]
    assert df_row.asDict() == list_row.asDict()
    assert df_row["poly_id"] == 4 and df_row["n_pixels"] > 0


def test_pip_empty_polygon_list_returns_empty(spark):
    """Zero polygons (or zero covered cells) short-circuits to an empty,
    correctly-typed result instead of crashing on an empty CASE chain."""
    from yirgacheffe_spark.spatial import joins, pages

    pg = pages.enriched_pages(spark, 50, res=7)
    out = joins.point_in_polygon_join(spark, pg, [], res=7)
    assert out.count() == 0
    assert dict(out.dtypes)["poly_id"] == "bigint"


def test_zonal_stats_matches_per_polygon_burn_at_10k_polygons(spark):
    """zonal_stats over 10^4 polygons is bit-identical to burning each
    polygon over the whole grid with numpy (``rasterize_rings``, as in
    ``test_zonal_stats_full_columns``): the per-tile burns and the ordered
    fold of their partials add up to the whole-grid statistics."""
    import pandas as pd

    import yirgacheffe_spark as yg
    from yirgacheffe_spark.sources.vector import parse_wkt_polygon, rasterize_rings

    rng = np.random.default_rng(11)
    data = rng.integers(0, 100, (64, 64)).astype(np.float64)
    proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
    layer = yg.from_array(data, (0.0, 0.0), proj)

    # 10^4 small polygons scattered over (and slightly past) the raster.
    # Every edge sits at pixel-fraction 0.31 — strictly OFF pixel
    # boundaries, the documented ALL_TOUCHED stability requirement (an
    # on-boundary edge is assigned by float tie-break, which legitimately
    # differs between per-tile window origins).
    n = 10_000
    x0 = (rng.integers(-2, 66, n) + 0.31) * 0.01
    y0 = -(rng.integers(-2, 66, n) + 0.31) * 0.01
    w = rng.integers(1, 8, n) * 0.01
    h = rng.integers(1, 8, n) * 0.01
    wkts = [
        f"POLYGON (({x0[i]} {y0[i]}, {x0[i]+w[i]} {y0[i]}, "
        f"{x0[i]+w[i]} {y0[i]-h[i]}, {x0[i]} {y0[i]-h[i]}, {x0[i]} {y0[i]}))"
        for i in range(n)
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": np.arange(n, dtype=np.int64), "geom_wkt": wkts})
    )

    got = {
        r["poly_id"]: (r["zsum"], r["n_pixels"], r["zmin"], r["zmax"], r["zmean"])
        for r in yg.zonal_stats(layer, polys, spark=spark).collect()
    }
    want = {}
    mask = np.zeros_like(data)
    for pid, wkt in enumerate(wkts):
        mask[:] = 0.0
        rasterize_rings(parse_wkt_polygon(wkt), 1.0, mask, 0.0, 0.0, 0.01, -0.01)
        vals = data[mask > 0]
        if vals.size:
            zsum = float(np.sum(vals))
            want[pid] = (zsum, vals.size, float(vals.min()), float(vals.max()),
                         zsum / vals.size)
    assert got == want
    assert len(got) > 9000  # nearly every polygon overlaps some pixel


class TestAsofJoin:
    """As-of join via union + carry-forward window, differential against
    pandas.merge_asof (the reference oracle for at-or-before semantics)."""

    def _frames(self, spark, n_keys=5, n_left=400, n_right=300):
        import pandas as pd

        rng = np.random.default_rng(31)
        left = pd.DataFrame({
            "user_id": rng.integers(0, n_keys, n_left).astype("int64"),
            "ts": rng.integers(0, 100_000, n_left).astype("int64"),
            "lval": rng.random(n_left),
        }).drop_duplicates(["user_id", "ts"])
        right = pd.DataFrame({
            "user_id": rng.integers(0, n_keys, n_right).astype("int64"),
            "ts": rng.integers(0, 100_000, n_right).astype("int64"),
            "rval": rng.random(n_right),
        }).drop_duplicates(["user_id", "ts"])
        return left, right

    def _oracle(self, left, right, tolerance=None):
        import pandas as pd

        kw = {"tolerance": tolerance} if tolerance is not None else {}
        return pd.merge_asof(
            left.sort_values(["ts", "user_id"], kind="stable"),
            right.sort_values(["ts", "user_id"], kind="stable"),
            on="ts", by="user_id", direction="backward",
            suffixes=("", "_r"), **kw,
        )

    def _compare(self, spark, tolerance_ms=None):
        from yirgacheffe_spark.spatial import asof

        left, right = self._frames(spark)
        out = asof.asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="user_id", tolerance_ms=tolerance_ms,
        ).toPandas()
        want = self._oracle(left, right, tolerance=tolerance_ms)
        import math

        def norm(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return None
            return round(v, 12)

        got = {(r.user_id, r.ts): (round(r.lval, 12), norm(r.r_rval))
               for r in out.itertuples()}
        for r in want.itertuples():
            assert got[(r.user_id, r.ts)] == (round(r.lval, 12), norm(r.rval)), (r.user_id, r.ts)
        assert len(got) == len(want)

    def test_matches_pandas_merge_asof(self, spark):
        self._compare(spark)

    def test_tolerance(self, spark):
        self._compare(spark, tolerance_ms=500)

    def test_equal_timestamp_is_visible(self, spark):
        import pandas as pd

        from yirgacheffe_spark.spatial import asof

        left = spark.createDataFrame(pd.DataFrame(
            {"user_id": [1], "ts": [100], "lval": [1.0]}))
        right = spark.createDataFrame(pd.DataFrame(
            {"user_id": [1], "ts": [100], "rval": [9.0]}))
        row = asof.asof_join(left, right, on="ts", by="user_id").collect()[0]
        assert row["r_rval"] == 9.0  # at-or-before includes equality

    def test_equal_timestamp_ties_are_deterministic(self, spark):
        """Several right rows sharing (by, on): the carried row must be the
        same on every run and partitioning (content-hash tiebreak), and an
        explicit tiebreak_col must pick its max."""
        import pandas as pd

        from yirgacheffe_spark.spatial import asof

        left = spark.createDataFrame(pd.DataFrame(
            {"user_id": [1, 1], "ts": [100, 200], "lval": [1.0, 2.0]}))
        rp = pd.DataFrame({"user_id": [1] * 6, "ts": [100] * 6,
                           "rval": [3.0, 9.0, 5.0, 7.0, 1.0, 4.0],
                           "seq": [10, 11, 12, 13, 14, 15]})
        picks = set()
        for parts in (1, 3, 16):
            right = spark.createDataFrame(rp).repartition(parts)
            out = asof.asof_join(left, right.drop("seq"), on="ts", by="user_id")
            picks.update(r["r_rval"] for r in out.collect())
        assert len(picks) == 1  # one winner, every layout

        out = asof.asof_join(left, spark.createDataFrame(rp), on="ts",
                             by="user_id", tiebreak_col="seq")
        assert all(r["r_rval"] == 4.0 for r in out.collect())  # seq=15 wins

    def test_skew_buckets_matches_plain_path(self, spark):
        """The two-pass skew variant must be row-identical to the key-window
        path — including on a SINGLE-key table (the hot-key shape it
        exists for) — and its heavy window must partition by (key, bucket)
        so one key spreads over many tasks."""
        import pandas as pd

        from yirgacheffe_spark.spatial import asof

        left, right = self._frames(spark)
        for lf, rf in ((left, right),
                       (left.assign(user_id=0), right.assign(user_id=0))):
            l_df, r_df = spark.createDataFrame(lf), spark.createDataFrame(rf)
            plain = asof.asof_join(l_df, r_df, on="ts", by="user_id")
            skew = asof.asof_join(l_df, r_df, on="ts", by="user_id",
                                  skew_buckets=8)
            key = ["user_id", "ts", "lval", "r_ts", "r_rval"]
            assert sorted(map(tuple, skew.select(key).collect())) == \
                   sorted(map(tuple, plain.select(key).collect()))

        skew = asof.asof_join(
            spark.createDataFrame(left.assign(user_id=0)),
            spark.createDataFrame(right.assign(user_id=0)),
            on="ts", by="user_id", skew_buckets=8)
        plan = skew._jdf.queryExecution().executedPlan().toString()
        heavy = [l for l in plan.splitlines()
                 if "Window" in l and "_last_r" in l]
        assert heavy and all("_bucket" in l for l in heavy), heavy

    def test_skew_buckets_with_tolerance(self, spark):
        from yirgacheffe_spark.spatial import asof

        left, right = self._frames(spark)
        l_df, r_df = spark.createDataFrame(left), spark.createDataFrame(right)
        key = ["user_id", "ts", "lval", "r_ts", "r_rval"]
        plain = asof.asof_join(l_df, r_df, on="ts", by="user_id",
                               tolerance_ms=500)
        skew = asof.asof_join(l_df, r_df, on="ts", by="user_id",
                              tolerance_ms=500, skew_buckets=5)
        assert sorted(map(tuple, skew.select(key).collect())) == \
               sorted(map(tuple, plain.select(key).collect()))


def test_asof_join_matches_duckdb_native_asof(spark):
    """Second independent oracle: DuckDB's native ASOF LEFT JOIN over the
    driver-generated events table — the engine's union+window formulation
    must reproduce it row for row (clicks joined to the latest at-or-before
    error by the same user)."""
    import duckdb

    from pyspark.sql import functions as F

    from yirgacheffe_spark.spatial import asof

    sfdir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(sfdir + "/events.parquet")
    clicks = ev.where("event_type = 'click'").select("event_id", "ts", "user_id", "value")
    errors = ev.where("event_type = 'error'").select("ts", "user_id", "value")
    out = asof.asof_join(clicks, errors, on="ts", by="user_id")
    got = {(r["event_id"], r["r_ts"], None if r["r_value"] is None else round(r["r_value"], 9))
           for r in out.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sfdir}/events.parquet'")
    want = {(r[0], r[1], None if r[2] is None else round(r[2], 9))
            for r in con.execute("""
        SELECT a.event_id, b.ts, b.value
        FROM (SELECT * FROM events WHERE event_type = 'click') a
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
        ON a.user_id = b.user_id AND a.ts >= b.ts
    """).fetchall()}
    assert got == want and len(got) > 100


def test_interval_join_matches_duckdb_range_join(spark):
    """Bucketized interval join == DuckDB's plain inequality join, and the
    plan stays free of nested-loop/cartesian operators."""
    import duckdb
    import pandas as pd

    from yirgacheffe_spark.spatial import asof

    rng = np.random.default_rng(7)
    pts = pd.DataFrame({
        "pid": np.arange(2000, dtype=np.int64),
        "user_id": rng.integers(0, 20, 2000).astype("int64"),
        "t": rng.integers(0, 100_000, 2000).astype("int64"),
    })
    starts = rng.integers(0, 95_000, 300).astype("int64")
    ivs = pd.DataFrame({
        "iv_id": np.arange(300, dtype=np.int64),
        "user_id": rng.integers(0, 20, 300).astype("int64"),
        "start": starts,
        "end": starts + rng.integers(1, 8_000, 300).astype("int64"),
    })
    out = asof.interval_join(
        spark.createDataFrame(pts), spark.createDataFrame(ivs),
        on="t", by="user_id",
    )
    got = {(r["pid"], r["iv_id"]) for r in out.collect()}

    con = duckdb.connect()
    con.register("pts", pts); con.register("ivs", ivs)
    want = {(r[0], r[1]) for r in con.execute(
        "SELECT p.pid, i.iv_id FROM pts p JOIN ivs i ON p.user_id = i.user_id "
        "AND p.t >= i.start AND p.t < i.end").fetchall()}
    assert got == want and len(got) > 500

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_boundary_semantics(spark):
    import pandas as pd

    from yirgacheffe_spark.spatial import asof

    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": [1, 2, 3], "t": [10, 19, 20]}))
    ivs = spark.createDataFrame(pd.DataFrame(
        {"iv_id": [7], "start": [10], "end": [20]}))
    got = {(r["pid"], r["iv_id"]) for r in
           asof.interval_join(pts, ivs, on="t", bucket_width=4).collect()}
    assert got == {(1, 7), (2, 7)}  # start inclusive, end exclusive


def test_interval_join_fractional_time(spark):
    """Fractional numeric time columns must not lose boundary matches."""
    import pandas as pd

    from yirgacheffe_spark.spatial import asof

    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": [1, 2], "t": [10.2, 10.6]}))
    ivs = spark.createDataFrame(pd.DataFrame(
        {"iv_id": [7], "start": [0.5], "end": [10.5]}))
    got = {(r["pid"], r["iv_id"]) for r in
           asof.interval_join(pts, ivs, on="t", bucket_width=1).collect()}
    assert got == {(1, 7)}  # 10.2 inside [0.5, 10.5); 10.6 outside


def test_asof_string_tiebreak_keeps_own_type(spark):
    """A non-numeric tiebreak column must order by its own type — the old
    cast-to-long silently NULLed string sequence ids and degraded ties to
    shuffle order."""
    import pandas as pd

    from yirgacheffe_spark.spatial import asof

    left = spark.createDataFrame(pd.DataFrame(
        {"user_id": [1], "ts": [100], "what": ["trade"]}))
    rp = pd.DataFrame({"user_id": [1, 1, 1], "ts": [100, 100, 100],
                       "seq": ["a-0001", "a-0003", "a-0002"],
                       "px": [1.0, 3.0, 2.0]})
    for parts in (1, 3, 7):
        right = spark.createDataFrame(rp).repartition(parts)
        out = asof.asof_join(left, right, on="ts", by="user_id",
                             tiebreak_col="seq").collect()
        assert out[0]["r_px"] == 3.0  # max string seq wins on every layout


@pytest.mark.parametrize("res", [6, 10, 12])
def test_knn_exact_even_with_tiny_max_ring(spark, res):
    """max_ring is accepted and ignored, never a correctness bound: sparse
    corner data far from the query still yields the true k nearest, and no
    query vanishes from the output.  Above res 8 the same planner runs on
    parent cells: its plan is the mapInPandas planner, never a cells x
    queries cross join."""
    import pandas as pd

    from yirgacheffe_spark.spatial import joins

    # pages cluster far from the queries
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"u{i}" for i in range(6)],
        "lat": [40.0, 40.1, 40.2, -35.0, -35.1, -35.2],
        "lng": [10.0, 10.1, 10.2, 150.0, 150.1, 150.2],
    }))
    from yirgacheffe_spark.spatial import cells as ci
    import numpy as np

    pages = pages.withColumn("cell", joins.cell_expr("lat", "lng", res))
    queries = [
        {"query_id": 1, "lat": 0.0, "lng": 0.0},     # nothing within 30 deg
        {"query_id": 2, "lat": -30.0, "lng": 140.0}, # nearer to the -35 cluster
    ]
    knn = joins.knn_join(spark, pages, queries, k=2, res=res, max_ring=1)
    out = knn.collect()
    plan = knn._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # no query vanishes, and each gets its true 2 nearest (brute force oracle)
    assert set(by_q) == {1, 2}
    p = pages.toPandas()
    for q in queries:
        d = joins.haversine_m(p["lat"].to_numpy(), p["lng"].to_numpy(),
                              np.full(6, q["lat"]), np.full(6, q["lng"]))
        want = set(p["url"].to_numpy()[np.argsort(d)][:2])
        got = {r.url for r in by_q[q["query_id"]]}
        assert got == want, (q, got, want)


@pytest.mark.parametrize("res", [6, 10, 12])
def test_knn_k_larger_than_table(spark, res):
    """k exceeding the table's row count returns every row, exactly — the
    histogram-pruned fetch must not drop any nonempty cell when the whole
    table is smaller than k, and returns each row once."""
    import pandas as pd

    from yirgacheffe_spark.spatial import joins

    pages = spark.createDataFrame(pd.DataFrame({
        "url": ["a", "b", "c"],
        "lat": [40.0, -35.0, 10.0],
        "lng": [10.0, 150.0, -60.0],
    })).withColumn("cell", joins.cell_expr("lat", "lng", res))
    queries = [{"query_id": 1, "lat": 0.0, "lng": 0.0},
               {"query_id": 2, "lat": 40.0, "lng": 10.0}]  # on top of "a"
    out = joins.knn_join(
        spark, pages, queries, k=10, res=res, max_ring=1).collect()
    p = pages.toPandas()
    for q in queries:
        d = joins.haversine_m(p["lat"].to_numpy(), p["lng"].to_numpy(),
                              np.full(3, q["lat"]), np.full(3, q["lng"]))
        want = list(enumerate(p["url"].to_numpy()[np.argsort(d)], 1))
        got = sorted((r["rank"], r.url) for r in out
                     if r.query_id == q["query_id"])
        assert got == want, (q, got, want)


def test_knn_empty_query_list(spark):
    import pandas as pd

    from yirgacheffe_spark.spatial import joins

    pages = spark.createDataFrame(pd.DataFrame({
        "url": ["a"], "lat": [1.0], "lng": [2.0]}))
    pages = pages.withColumn("cell", joins.cell_expr("lat", "lng", 6))
    out = joins.knn_join(spark, pages, [], k=3, res=6)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "url", "dist_m", "rank"}


@pytest.mark.parametrize("res", [6, 10, 12])
def test_knn_polar_exact(spark, res):
    """Polar regression for the histogram pass's per-cell distance UPPER
    bound: the parallel leg must use the cos that MAXIMIZES it over the
    cell's latitude range (1.0 across the equator), not cos(far_lat) —
    at far_lat = +-90 that collapsed the leg to 0, understating ub by up
    to ~cell_h*R for pole-adjacent cells, and the resulting cap pruned
    cells holding the true nearest neighbor for exactly the polar/remote
    queries the pass exists to serve."""
    import pandas as pd

    from yirgacheffe_spark.spatial import joins

    # Pages ONLY at +-89.3 deg (the pole-adjacent rows 0 and 63 at res 6),
    # spread over longitudes including across the antimeridian; every
    # query's nearest pages sit across a pole-adjacent cell.
    lngs = np.arange(-175.0, 180.0, 10.0)
    lat_n = np.full(len(lngs), 89.3)
    lat_s = np.full(len(lngs), -89.3)
    pdf = pd.DataFrame({
        "url": [f"n{i}" for i in range(len(lngs))]
               + [f"s{i}" for i in range(len(lngs))],
        "lat": np.concatenate([lat_n, lat_s]),
        "lng": np.concatenate([lngs, lngs]),
    })
    pages = spark.createDataFrame(pdf).withColumn(
        "cell", joins.cell_expr("lat", "lng", res))
    queries = [
        {"query_id": 1, "lat": 40.0, "lng": 179.0},
        {"query_id": 2, "lat": 40.0, "lng": -179.0},
        {"query_id": 3, "lat": -40.0, "lng": 1.0},
        {"query_id": 4, "lat": 0.0, "lng": -91.0},
        {"query_id": 5, "lat": 75.0, "lng": 13.0},
    ]
    out = joins.knn_join(spark, pages, queries, k=3, res=res,
                         max_ring=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    lat_v, lng_v = pdf["lat"].to_numpy(), pdf["lng"].to_numpy()
    for q in queries:
        d = joins.haversine_m(lat_v, lng_v,
                              np.full(len(pdf), q["lat"]),
                              np.full(len(pdf), q["lng"]))
        order = np.lexsort((pdf["url"].to_numpy(), d))[:3]
        want = list(pdf["url"].to_numpy()[order])
        got = [r.url for r in sorted(by_q[q["query_id"]],
                                     key=lambda r: r.rank)]
        assert got == want, (q, got, want)
    if res != 6:
        return

    # Pinned minimal failure of the old cos(far_lat) formula (verified
    # numerically): for a query at (40, 179), the row-0 cell across the
    # pole holding "polar" gets old-ub 5560 km (parallel leg collapsed to
    # 0 at far_lat=90) while its page truly sits 5715 km away; the true
    # nearest "near" (5701 km, row 36 straight south) has cell lb 5630 km
    # > 5560, so the old cap pruned its cell and returned the polar page.
    pinned = spark.createDataFrame(pd.DataFrame({
        "url": ["polar", "near"],
        "lat": [88.6, -11.3],
        "lng": [-1.0, 179.0],
    })).withColumn("cell", joins.cell_expr("lat", "lng", 6))
    got = joins.knn_join(
        spark, pinned, [{"query_id": 1, "lat": 40.0, "lng": 179.0}],
        k=1, res=6, max_ring=1).collect()
    assert [r.url for r in got] == ["near"]


def _reference_histogram_plan(qlat, qlng, hist, p, k):
    """Naive per-query twin of ``joins._knn_histogram_plan``: the same
    sound bounds for every cell, a full sort by ub, the cap at the first
    cell whose cumulative count reaches k (the largest ub when the table
    holds fewer than k rows), and every cell with lb <= cap kept."""
    cells, counts = hist
    mask28 = (1 << 28) - 1
    h, w, m = 180.0 / (1 << p), 360.0 / (1 << (p + 1)), 111_194.9
    north = 90.0 - ((cells >> 28) & mask28).astype(np.float64) * h
    south = north - h
    lng0 = (cells & mask28).astype(np.float64) * w - 180.0
    cos_n, cos_s = np.cos(np.radians(north)), np.cos(np.radians(south))
    cos_par = np.where((north >= 0) & (south <= 0), 1.0, np.maximum(cos_n, cos_s))
    keep, caps, tied = set(), [], 0
    for i, (ql, qg) in enumerate(zip(qlat, qlng)):
        ang = np.mod(qg - lng0, 360.0)
        far_lng = np.where(
            (ang >= 180.0) & (ang <= 180.0 + w), 180.0,
            np.maximum(np.minimum(ang, 360.0 - ang),
                       np.minimum(np.abs(ang - w), 360.0 - np.abs(ang - w))))
        far_lat = np.where(np.abs(ql - north) > np.abs(ql - south), north, south)
        ub = np.abs(ql - far_lat) * m + far_lng * m * cos_par
        order = np.argsort(ub, kind="stable")
        reach = np.cumsum(counts[order]) >= k
        cap = ub[order][np.argmax(reach)] if reach.any() else ub.max()
        tied += int(np.count_nonzero(ub == cap) > 1)
        gap_lat = np.maximum(np.maximum(south - ql, ql - north), 0.0)
        gap_lng = np.where(ang < w, 0.0, np.minimum(ang - w, 360.0 - ang))
        lb_lng = 2.0 * joins.EARTH_RADIUS_M * np.arcsin(
            np.sqrt(np.maximum(np.cos(np.radians(ql)) * np.minimum(cos_n, cos_s), 0.0))
            * np.sin(np.radians(gap_lng) / 2.0))
        lb = np.maximum(gap_lat * m, lb_lng)
        keep |= {(i, int(c)) for c in cells[lb <= cap]}
        caps.append(cap)
    return keep, np.array(caps), tied


@pytest.mark.parametrize("p", [6, 8])
def test_knn_histogram_plan_matches_naive_reference(monkeypatch, p):
    """The planner's argpartition cap and pair-budget chunks select exactly
    the cells and caps of a naive per-query sort by ub, with tied ubs,
    k = 1 and k above the table's row count."""
    rng = np.random.default_rng(41 + p)
    rows_n, cols_n = 1 << p, 1 << (p + 1)
    # A full block (symmetric neighbors: tied ubs for queries at cell
    # centres), scattered cells, both polar rows and the antimeridian.
    block = [(r, c) for r in range(rows_n // 3, rows_n // 3 + 6)
             for c in range(cols_n // 2, cols_n // 2 + 6)]
    scatter = zip(rng.integers(0, rows_n, 400), rng.integers(0, cols_n, 400))
    edges = [(0, 0), (0, cols_n - 1), (rows_n - 1, 3), (rows_n // 2, cols_n - 1)]
    rc = np.array(sorted(set(block) | set(scatter) | set(edges)), dtype=np.int64)
    cells = np.sort((np.int64(p) << 56) + (rc[:, 0] << 28) + rc[:, 1])
    # Mostly single-row cells: the k nearest cells then hold barely k rows.
    counts = np.where(rng.random(len(cells)) < 0.8, 1,
                      rng.integers(2, 5, len(cells))).astype(np.int64)
    h, w = 180.0 / rows_n, 360.0 / cols_n
    centres_lat = 90.0 - (rows_n // 3 + 2.5) * h
    centres_lng = -180.0 + (cols_n // 2 + np.arange(1, 5) + 0.5) * w
    qlat = np.concatenate([rng.uniform(-90, 90, 40), [90.0, -90.0, 0.0, 45.0],
                           np.full(4, centres_lat)])
    qlng = np.concatenate([rng.uniform(-180, 180, 40), [0.0, 33.0, 180.0, -179.99],
                           centres_lng])
    pdf = pd.DataFrame({"query_id": np.arange(len(qlat), dtype=np.int64),
                        "qlat": qlat, "qlng": qlng})
    ties = 0
    for k in (1, 7, int(counts.sum()) + 5):
        want_keep, want_cap, tied = _reference_histogram_plan(
            qlat, qlng, (cells, counts), p, k)
        ties += tied
        for budget in (joins._KNN_PLAN_PAIRS, 3 * len(cells) + 1):
            monkeypatch.setattr(joins, "_KNN_PLAN_PAIRS", budget)
            got = joins._knn_histogram_plan(pdf, (cells, counts), p, k)
            assert set(zip(got["query_id"], got["pcell"])) == want_keep, (k, budget)
            caps = got.groupby("query_id")["cap"].agg(["min", "max"])
            assert (caps["min"] == caps["max"]).all()
            np.testing.assert_array_equal(caps["min"].to_numpy(), want_cap)
            assert (got["qlat"].to_numpy() == qlat[got["query_id"]]).all()
    assert ties > 0  # the tie-order independence was exercised


@pytest.mark.parametrize("res", [6, 10])
def test_knn_brute_force_clustered_with_empty_regions(spark, res):
    """~200 queries over clustered pages, 15% of them in empty regions
    (both poles, the polar caps, open ocean): every query gets exactly its
    brute-force k nearest, in (distance, url) order."""
    rng = np.random.default_rng(5)
    centres = [(40.7, -74.0), (51.5, -0.1), (35.7, 139.7), (-33.9, 151.2),
               (-23.5, -46.6), (1.3, 103.8)]
    lat = np.concatenate([rng.normal(a, 2.0, 500) for a, _ in centres])
    lng = np.concatenate([rng.normal(b, 3.0, 500) for _, b in centres])
    urls = np.array([f"u{i:05d}" for i in range(len(lat))])
    pts = spark.createDataFrame(pd.DataFrame(
        {"url": urls, "lat": lat, "lng": lng})).withColumn(
        "cell", joins.cell_expr("lat", "lng", res))
    near = rng.integers(0, len(lat), 170)
    empty_lat = np.concatenate([[90.0, -90.0], rng.uniform(70, 89.9, 10),
                                rng.uniform(-89.9, -70, 10), rng.uniform(-50, -40, 8)])
    empty_lng = np.concatenate([[0.0, 120.0], rng.uniform(-180, 180, 20),
                                rng.uniform(-140, -110, 8)])
    qlat = np.concatenate([lat[near] + rng.normal(0, 1.0, 170), empty_lat])
    qlng = np.concatenate([lng[near] + rng.normal(0, 1.0, 170), empty_lng])
    qlat = np.clip(qlat, -90, 90)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"query_id": np.arange(len(qlat)), "lat": qlat, "lng": qlng}))
    k = 5
    got = {}
    for r in joins.knn_join_df(spark, pts, qdf, k=k, res=res).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["url"]))
    assert set(got) == set(range(len(qlat)))
    for q in range(len(qlat)):
        d = joins.haversine_m(lat, lng, qlat[q], qlng[q])
        want = list(urls[np.lexsort((urls, d))[:k]])
        assert [u for _, u in sorted(got[q])] == want, q


def test_invalidate_density_cache_empties_cell_histograms(spark):
    pts = spark.createDataFrame(pd.DataFrame({
        "url": ["a", "b"], "lat": [1.0, -20.0], "lng": [2.0, 40.0]})
    ).withColumn("cell", joins.cell_expr("lat", "lng", 6))
    qdf = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1], "lat": [0.0], "lng": [0.0]}))
    joins.knn_join_df(spark, pts, qdf, k=1, res=6)
    assert joins._CELL_HIST_CACHE
    joins.invalidate_density_cache()
    assert joins._CELL_HIST_CACHE == {}


def test_knn_exact_after_table_overwrite(spark, tmp_path):
    """Overwriting a pages table in place keeps its analyzed plan's hash; the
    cached cell histogram must still not outlive the files it counted."""
    path = str(tmp_path / "pages")

    def write(lat, lng):
        pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(lat))],
                            "lat": lat, "lng": lng})
        spark.createDataFrame(pdf).withColumn(
            "cell", joins.cell_expr("lat", "lng", 6)
        ).write.mode("overwrite").parquet(path)
        return pdf

    qdf = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1], "lat": [-30.0], "lng": [140.0]}))
    write(np.full(5, 40.0), np.linspace(10.0, 11.0, 5))
    joins.knn_join_df(spark, spark.read.parquet(path), qdf, k=3, res=6).collect()
    pdf = write(np.linspace(-35.0, -34.0, 6), np.full(6, 150.0))
    got = joins.knn_join_df(spark, spark.read.parquet(path), qdf, k=3, res=6)
    d = joins.haversine_m(pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), -30.0, 140.0)
    want = list(pdf["url"].to_numpy()[np.argsort(d)][:3])
    assert [r["url"] for r in got.orderBy("rank").collect()] == want
