"""Physical-plan audit: assert the Catalyst properties the engine's design
depends on, and print the evidence.

Checks (each FAILS the script if violated):

1. Every raster tree runs on the tile grid: its one ``MapInArrow`` kernel
   reads a bare JVM ``Range`` of run ids, which it expands into tile ids
   itself (no ``Generate`` or ``Project`` between them), and the parquet
   leaves itself — no ``FileScan`` (no JVM payload decode), no
   ``Exchange`` (no payload shuffle) and no ``Scan ExistingRDD`` (a
   parallelized Python RDD would cost every task a second Python worker).  Covered: a table on the
   computation grid, planar tables, a sparse table, a table off the grid
   (stored at half the tile size) and a tree with no parquet leaf.
2. The PIP candidate plan broadcast-joins (or inlines) the polygon side —
   no SortMergeJoin on the page table for a dim-sized polygon list.
3. Every banded near-dup plan (MinHash candidates on persisted
   signatures, SimHash near-dups, cosine LSH near-dups) broadcast-joins its
   hot bucket set and its executed plan holds NO CartesianProduct /
   BroadcastNestedLoopJoin (all-pairs is the classic scale failure) and no
   SortMergeJoin.
4. The kNN plan scans the page table exactly once and broadcast-joins the
   ``MapInPandas`` planner's keep rows (a ``MapInPandas`` under a
   ``BroadcastHashJoin``), with no CartesianProduct /
   BroadcastNestedLoopJoin / SortMergeJoin.
5. Whole-stage codegen covers the text-quality column pipeline (the JVM
   hot path stays fused).
6-10. Curation plans: scan-side sampling filter, JVM LM scoring,
   broadcast decontamination probe, Python-free URL canonical dedup,
   single-Arrow-batch Gopher signals.
11-12. Broadcast DSIR ratio join; single-Arrow-batch Bloom probe.
13. Raster actions on one table stay within their job budget,
   counted by job group: ``read_array`` 0 (it runs in the driver), ``sum``
   1 (one Arrow collect of the tile partials), a stencil's ``sum`` 1 too
   (each task reads its tiles' halos itself), ``unique`` at most 2, and
   ``save`` 1 with or without ``and_sum`` (its sink tasks return their
   tiles' partials; the table is not read back), and ``to_geotiff`` one
   job of one stage per partition of its tile grid (one partition per
   tile row at most, pulled in turn: no sampling job, no shuffle).
14. ``zonal_stats`` burns its polygons in the tile grid's kernel: the
   ``MapInArrow`` reads a bare ``Range``, and the plan's only ``Exchange``
   is the fold's, on ``poly_id`` (no result tile crosses a shuffle).

Run: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm  # noqa: SLF001
    return jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def subtree(lines: list[str], i: int) -> list[str]:
    """The lines of a plan tree string below node ``lines[i]``."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for line in lines[i + 1:]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out


def main() -> int:
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import yirgacheffe_spark as yg
    from yirgacheffe_spark import harness
    from yirgacheffe_spark.plans import executor as X
    from yirgacheffe_spark.spatial import joins, pages
    from yirgacheffe_spark.text import ann, dedup

    failures = []

    def check(name, ok, evidence=""):
        print(f"{'OK  ' if ok else 'FAIL'} {name}")
        if evidence:
            print("     " + evidence.strip().replace("\n", "\n     "))
        if not ok:
            failures.append(name)

    # 1. every raster tree runs on the tile grid: one MapInArrow kernel
    # over a bare JVM Range of run ids, reading its parquet leaves itself.
    import tempfile

    import numpy as np

    from yirgacheffe_spark import constants

    with tempfile.TemporaryDirectory(prefix="plan_audit_") as tmp:
        proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
        area = yg.Area(0.0, 0.0, 0.96, -0.64, proj)
        data = np.ones((64, 96), dtype=np.int16)

        def table(name, tile_size=constants.TILE_SIZE):
            return yg.write_array_as_raster_table(
                os.path.join(tmp, name), data, area, tile_size=tile_size)

        a, b = table("a"), table("b")
        holes = np.zeros((64, 96), dtype=np.int16)
        holes[5, 7] = 3
        yg.from_array(holes, (0.0, 0.0), proj).save(
            os.path.join(tmp, "sparse"), sparse=True, spark=spark)
        trees = {
            "aligned": a * 2,
            "planar": a * 2 + b,
            "sparse": yg.read_raster(os.path.join(tmp, "sparse")) + 1,
            "unaligned": table("half_tiles", max(constants.TILE_SIZE // 2, 1)) * 2,
            "no leaf": yg.from_array(data, (0.0, 0.0), proj) * 2,
        }
        for name, expr in trees.items():
            plan = plan_of(X.tiles_dataframe(X._as_root(expr), spark))  # noqa: SLF001
            tree = plan.split("\n\n")[0].splitlines()
            kernel = [i for i, l in enumerate(tree) if "MapInArrow" in l]
            below = [l.lstrip(" :+-*") for l in subtree(tree, kernel[0])] if kernel else []
            ok = (len(kernel) == 1
                  and len(below) == 1 and below[0].startswith("Range")
                  and not any(op in plan for op in
                              ("Generate", "Scan parquet", "FileScan", "Exchange",
                               "ExistingRDD")))
            check(f"{name} raster tree runs on the tile grid: MapInArrow over a bare "
                  "Range, no Generate, FileScan, Exchange or ExistingRDD", ok,
                  "\n".join(tree))

    # 2. PIP broadcast / inlined cover
    pts = harness.customer_points(spark, SF_DIR).withColumn(
        "cell", joins.cell_expr("lat", "lng", 5)
    )
    pip = joins.point_in_polygon_join(
        spark, pts,
        [{"poly_id": 1, "geom_wkt": "POLYGON ((0 10, 40 10, 40 50, 0 50, 0 10))"}],
        res=5,
    )
    plan = plan_of(pip)
    ok = "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    check("PIP plan has no sort-merge/cartesian join on the page side", ok)

    # 3. banded near-dup: every dedup._bucket_pairs caller broadcasts the
    # hot bucket set back and pairs members without an all-pairs operator,
    # in the executed plan.
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    sigs = dedup.minhash_signatures(docs, bands=16).persist()
    sigs.count()
    banded_plans = {
        "minhash": dedup.minhash_lsh_candidates(sigs, bands=16),
        "simhash": dedup.simhash_near_dups(
            dedup.simhash_column(docs), max_hamming=7, chunks=8),
        "cosine": ann.cosine_near_dup_pairs_lsh(
            emb, threshold=0.42, bits=4, tables=8),
    }
    for name, df in banded_plans.items():
        # the final adaptive plan, after AQE has seen the runtime sizes
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        ok = ("BroadcastHashJoin" in plan
              and not any(op in plan for op in (
                  "CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")))
        check(f"{name} near-dup plan: broadcast hot buckets, no cartesian/"
              "nested-loop/sort-merge join", ok)
    sigs.unpersist()

    # 4. kNN: one page scan, broadcast keep rows from the planner
    qdf = spark.range(4).selectExpr(
        "id AS query_id", "CAST(id * 10 - 20 + 0.5 AS DOUBLE) AS lat",
        "CAST(id * 30 - 60 + 0.5 AS DOUBLE) AS lng"
    )
    knn = joins.knn_join_df(spark, pts.selectExpr("c_custkey AS url", "lat", "lng", "cell"),
                            qdf, k=2, res=5, max_ring=8)
    knn.collect()
    final = knn._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    final = final.split("== Initial Plan ==")[0].splitlines()
    scans = [l for l in final if "Scan parquet" in l]
    ok = (len(scans) == 1
          and any("MapInPandas" in m
                  for i, l in enumerate(final) if "BroadcastHashJoin" in l
                  for m in subtree(final, i))
          and not any(op in l for l in final for op in (
              "CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")))
    check("kNN plan: one page scan, MapInPandas planner under a "
          "BroadcastHashJoin, no cartesian/nested-loop/sort-merge join", ok,
          f"{len(scans)} page scan(s)")

    # 5. whole-stage codegen on the JVM text pipeline
    from yirgacheffe_spark.text import quality
    q = docs.select(
        quality.token_count(F.col("text")).alias("t"),
        quality.quality_score(F.col("text")).alias("q"),
        quality.fingerprint(F.col("text")).alias("fp"),
    )
    plan = plan_of(q)
    ok = "codegen id" in plan and "BatchEvalPython" not in plan
    check("text quality pipeline is whole-stage-codegen JVM (no Python)", ok)

    # 6. deterministic sampling pushes its hash filter into the scan and
    # stays Python-free (the curation filters run at 10^12-row scale).
    from yirgacheffe_spark.text import sampling
    samp = sampling.salted_sample(docs, 0.25, "doc_id", seed=3)
    plan = plan_of(samp)
    ok = ("BatchEvalPython" not in plan and "Exchange" not in plan
          and "Filter" in plan)
    check("salted_sample is a JVM scan-side filter (no Python, no shuffle)", ok)

    # 7. n-gram LM scoring: extraction + model join stay JVM-side; the only
    # Python in the plan would be a regression (everything is column algebra).
    from yirgacheffe_spark.text import lm
    model = lm.train_ngram_counts(docs.limit(50), n=2)
    scored = lm.score_documents(docs, model, n=2)
    plan = plan_of(scored)
    ok = ("BatchEvalPython" not in plan and "CartesianProduct" not in plan
          and "BroadcastHashJoin" in plan)
    check("LM scoring plan: JVM n-gram extraction + broadcast model join", ok)

    # 8. decontamination: eval grams broadcast (benchmark-sized probe) and
    # the training side stays Python-free JVM n-gram algebra.
    evals = docs.limit(20).selectExpr("doc_id AS eval_id", "text")
    dec = dedup.contaminated_ids(docs, evals, eval_text_col="text", n=5)
    plan = plan_of(dec)
    ok = ("BatchEvalPython" not in plan and "CartesianProduct" not in plan
          and "BroadcastHashJoin" in plan)
    check("decontamination: JVM n-grams + broadcast eval probe", ok)

    # 9. URL canonical dedup: one window over the canonical key, no Python,
    # no cartesian (try_parse_url keeps everything JVM).
    from yirgacheffe_spark.spatial import pages as pages_mod
    from yirgacheffe_spark.text import urls
    pg = pages_mod.generate_pages(spark, 200).select("url").withColumn(
        "doc_id", F.xxhash64("url"))
    cu = urls.dedup_by_canonical_url(pg)
    plan = plan_of(cu)
    ok = ("BatchEvalPython" not in plan and "CartesianProduct" not in plan
          and "Window" in plan)
    check("URL canonical dedup: JVM window, no Python", ok)

    # 10. Gopher signals: exactly ONE Arrow-batched Python eval (the n-gram
    # repetition struct); every other signal is JVM column algebra.
    import re
    from yirgacheffe_spark.text import gopher
    sig = gopher.gopher_signals(docs)
    plan = plan_of(sig)
    # formatted explain lists each operator twice (tree + details):
    # count DISTINCT operator ids.
    n_arrow = len(set(re.findall(r"\((\d+)\) ArrowEvalPython", plan)))
    ok = n_arrow == 1 and "BatchEvalPython" not in plan
    check("gopher signals: one Arrow batch, rest JVM "
          f"(ArrowEvalPython x{n_arrow})", ok)

    # 11. DSIR weights: the (bucket, logratio) table joins BROADCAST (it is
    # <= buckets rows by construction) and the plan holds no cartesian /
    # nested-loop join and no Python eval — pure JVM hash path.
    from yirgacheffe_spark.text import lm
    tgt = docs.where(docs["lang"] == "en")
    tmod = lm.train_hashed_ngram_model(tgt, n=2, buckets=256)
    rmod = lm.train_hashed_ngram_model(docs, n=2, buckets=256)
    wplan = plan_of(lm.dsir_logweights(docs, tmod, rmod, n=2, buckets=256))
    ok = ("BroadcastHashJoin" in wplan
          and "CartesianProduct" not in wplan
          and "BroadcastNestedLoopJoin" not in wplan
          and "BatchEvalPython" not in wplan
          and "ArrowEvalPython" not in wplan)
    check("dsir weights: broadcast ratio join, JVM-only, no cartesian", ok)

    # 12. Bloom probe: ONE Arrow batch (the bit test); the positions are
    # JVM expressions, and the definite-new routing path has no join.
    from yirgacheffe_spark.text import bloom
    bf_m, bf_k = bloom.bloom_parameters(1000, fpp=0.01)
    bf = bloom.BloomFilter.build(
        docs.select(F.xxhash64("text").alias("h")), "h", bf_m, bf_k)
    probe_plan = plan_of(docs.where(~bf.might_contain(F.xxhash64("text"))))
    n_arrow = len(set(re.findall(r"\((\d+)\) ArrowEvalPython", probe_plan)))
    ok = (n_arrow == 1 and "Join" not in probe_plan
          and "BatchEvalPython" not in probe_plan)
    check(f"bloom probe: one Arrow batch, no join (ArrowEvalPython x{n_arrow})", ok)

    # 13. raster action job budget on one table: read_array runs in the
    # driver, sum folds one Arrow collect of its tile partials (a stencil's
    # tasks read their halos themselves), unique collects its
    # Spark-combined values through one limit, save (with or without its
    # sum) is its one sink job, and to_geotiff pulls its tile grid one
    # single-stage job per partition.
    sc = spark.sparkContext

    def jobs_of(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    with tempfile.TemporaryDirectory(prefix="plan_audit_") as tmp:
        proj = yg.MapProjection("epsg:4326", 0.01, -0.01)
        s = constants.TILE_SIZE
        # 24 tiles, two runs of the tile grid, so two tasks: a one-partition
        # scan would let a Spark-side fold of the partials share the
        # kernel's job.
        table = yg.write_array_as_raster_table(
            os.path.join(tmp, "t"),
            (np.arange(6 * s * 4 * s) % 7).astype(np.int16).reshape(6 * s, 4 * s),
            yg.Area(0.0, 0.0, 4 * s * 0.01, -6 * s * 0.01, proj), tile_size=s)
        stencil = table.conv2d(np.ones((3, 3), np.float32))
        job_ids = {
            "read_array": jobs_of("audit-read-array", lambda: table.read_array(0, 0, s, s)),
            "sum": jobs_of("audit-sum", lambda: table.sum(spark=spark)),
            "stencil sum": jobs_of("audit-stencil-sum", lambda: stencil.sum(spark=spark)),
            "unique": jobs_of("audit-unique", lambda: table.unique(spark=spark)),
            "save": jobs_of("audit-save", lambda: table.save(
                os.path.join(tmp, "saved"), spark=spark)),
            "save(and_sum=True)": jobs_of("audit-save-sum", lambda: table.save(
                os.path.join(tmp, "saved"), and_sum=True, spark=spark)),
            "to_geotiff": jobs_of("audit-to-geotiff", lambda: yg.to_geotiff(
                table, os.path.join(tmp, "t.tif"), spark=spark)),
        }
        jobs = {k: len(v) for k, v in job_ids.items()}
        # The grid to_geotiff reads: at most one partition per tile row.
        grid_parts = X._build(table, spark, 6)[4].rdd.getNumPartitions()  # noqa: SLF001
        tiff_stages = [len(sc.statusTracker().getJobInfo(j).stageIds)
                       for j in job_ids["to_geotiff"]]
        ok = (jobs["read_array"] == 0 and jobs["sum"] == 1 and jobs["stencil sum"] == 1
              and jobs["unique"] <= 2
              and jobs["save"] == 1 and jobs["save(and_sum=True)"] == 1
              and jobs["to_geotiff"] == grid_parts and set(tiff_stages) == {1})
        check("raster action job budget: read_array 0, sum 1, stencil sum 1, "
              "unique <= 2, save 1, save(and_sum=True) 1, to_geotiff one "
              "single-stage job per grid partition", ok,
              ", ".join(f"{k} {v}" for k, v in jobs.items())
              + f"; to_geotiff grid partitions {grid_parts}, stages per job {tiff_stages}")

    # 14. zonal_stats: the polygons are burnt in the tile grid's kernel, and
    # only the per-polygon fold shuffles (no result tile crosses a shuffle).
    s = constants.TILE_SIZE
    layer = yg.from_array(np.ones((2 * s, 2 * s), np.int16), (0.0, 0.0),
                          yg.MapProjection("epsg:4326", 0.01, -0.01))
    zonal = X.zonal_stats(layer, [{"poly_id": 1, "geom_wkt":
                                   "POLYGON ((0.1 -0.1, 5 -0.1, 5 -5, 0.1 -5, 0.1 -0.1))"}],
                          spark=spark)
    plan = plan_of(zonal)
    tree = plan.split("\n\n")[0].splitlines()
    kernel = [i for i, l in enumerate(tree) if "MapInArrow" in l]
    below = [l.lstrip(" :+-*") for l in subtree(tree, kernel[0])] if kernel else []
    exchanges = re.findall(r"Exchange \((\d+)\)", "\n".join(tree))
    ok = (len(kernel) == 1 and len(below) == 1 and below[0].startswith("Range")
          and len(exchanges) == 1
          and re.search(rf"\({exchanges[0]}\) Exchange\n(?:.*\n)*?Arguments: "
                        r"hashpartitioning\(poly_id#", plan) is not None)
    check("zonal_stats: MapInArrow over a bare Range, one Exchange, the fold's "
          "on poly_id", ok, "\n".join(tree))

    print("\nPLAN AUDIT:", "all checks passed" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
