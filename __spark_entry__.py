"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship layer query at sf0.001.
``queries()`` maps operator names (SURVEY.md §2) to Spark callables;
``oracle_sql()`` gives the DuckDB-equivalent SQL the driver compares against
at sf0.01 (row count + schema + order-insensitive value hash).

Layer-algebra queries run on rasters *derived deterministically from the
lineitem table* (see ``yirgacheffe_spark.harness``): pixel i = row_number
over a unique key ordering, value channels qty/price/elev/hab — all
integer-valued doubles so float64 aggregation is exact and both engines
agree bitwise.  Ops with no SQL analog (minhash, simhash, LSH-ANN, langid,
multimodal, adaptive cells) are registered without an oracle → the driver
records the weaker rows-only check; each has a differential unit test in
``tests/`` instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

import yirgacheffe_spark as yg
from yirgacheffe_spark import harness
from yirgacheffe_spark.harness import (
    AREA_LAT_CENTER_SQL,
    PX_CTE,
    POINTS_SQL,
    area_pixel_sql,
    cell_assign_sql,
    scalar_df,
)
from yirgacheffe_spark.spatial import joins
from yirgacheffe_spark.text import ann, dedup, lm, multimodal, pipeline, quality

RES = 5  # cell resolution used by the spatial oracle queries

# Ellipsoidal-Mercator constants for the epsg:3395 oracle leg — taken from
# the SAME Python objects the engine computes with, so the SQL literals are
# bit-identical doubles.
from yirgacheffe_spark.reprojection import _ELL_WGS84 as _MERC_ELL  # noqa: E402

MERC_A = _MERC_ELL.a
MERC_E = _MERC_ELL.e

KNN_QUERIES = [
    {"query_id": 1, "lat": 40.25, "lng": -74.25},
    {"query_id": 2, "lat": -10.75, "lng": 20.25},
]


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship AoH query at sf0.001 (the reference's README.md:53-65 recipe
    in full): habitat-class membership x elevation band x rasterized species
    range polygon x quantity, through the tiled Spark engine."""
    sf_dir = "/root/testdata/sf0.001"
    r = harness.lineitem_rasters(sf_dir)
    range_poly = yg.read_shape(
        _RANGE_FEATURES, harness.PROJ, burn_value=1, where_filter="species=1",
        name="range",
    )
    aoh = (
        r["hab"].isin([1.0, 5.0, 7.0, 11.0])
        * ((r["elev"] >= 100) & (r["elev"] <= 800))
        * range_poly
        * r["qty"]
    )
    total = aoh.sum(spark=spark)
    area_px = yg.where(aoh > 0, 1, 0).sum(spark=spark)
    return spark.createDataFrame(
        [("aoh_weighted_sum", float(total)), ("aoh_pixels", float(area_px))],
        "metric string, value double",
    )


# --------------------------------------------------------------------------
# layer-algebra queries (lineitem rasters)
# --------------------------------------------------------------------------

def q_layer_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    return scalar_df(spark, r["qty"].sum(spark=spark), "sum_value")


def q_layer_elementwise_sum(spark, sf_dir):
    """Compound element-wise coverage in one scan: scalar arithmetic, unary
    neg/abs, minimum/maximum, and nan_to_num (0/0 -> nan -> 5, x/0 -> inf ->
    2) — merged from four round-2 micro-queries so the whole registry fits
    the driver's 50-query correctness window."""
    r = harness.lineitem_rasters(sf_dir)
    expr = (
        (r["qty"] * 3 + 7)
        + (-(r["qty"] - 25)).abs()
        + yg.maximum(r["qty"], 25)
        + yg.minimum(r["elev"], 500)
        + (r["qty"] / (r["hab"] - r["hab"])).nan_to_num(nan=5, posinf=2, neginf=0)
    )
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_mask_mul_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    expr = (
        r["hab"].isin([1.0, 5.0, 7.0, 11.0])
        * ((r["elev"] >= 100) & (r["elev"] <= 800))
        * r["qty"]
    )
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_where_clip_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    expr = yg.where(r["qty"] > 25, yg.clip(r["price"], min=1000, max=50000), 0)
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_minmax(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    expr = r["qty"] * 2 + 1
    return spark.createDataFrame(
        [(float(expr.min(spark=spark)), float(expr.max(spark=spark)))],
        "min_value double, max_value double",
    )


def q_layer_unique_counts(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    values, counts = (r["qty"] % 5).unique(return_counts=True, spark=spark)
    return spark.createDataFrame(
        [(float(v), int(c)) for v, c in zip(values, counts)],
        "value double, n long",
    )


def q_layer_extent_sum(spark, sf_dir):
    """Extent-inference coverage, both directions in one gate row: a grown
    extent forces the UNION path with zero-fill on all four edges; a
    ConstantLayer scoped to an interior window forces the INTERSECTION
    path."""
    r = harness.lineitem_rasters(sf_dir)
    grown = r["price"].as_area(r["price"].area.grow(16 * harness.STEP))
    union_total = (r["qty"] + grown).sum(spark=spark)
    window_area = yg.Area(
        30 * harness.STEP, -5 * harness.STEP, 200 * harness.STEP, -20 * harness.STEP,
        harness.PROJ,
    )
    ones = yg.constant(1).as_area(window_area)
    inter_total = (r["qty"] * ones).sum(spark=spark)
    return spark.createDataFrame(
        [(float(union_total), float(inter_total))],
        "union_sum double, intersect_sum double",
    )


def q_layer_conv2d_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    expr = r["qty"].conv2d(np.ones((3, 3), dtype=np.float32))
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_intops_sum(spark, sf_dir):
    """Compound integer-domain coverage in one scan: astype + bitwise
    and/or/shift, floordiv + mod, and logical and/or — merged from three
    round-2 micro-queries."""
    r = harness.lineitem_rasters(sf_dir)
    bitwise = ((r["qty"].as_type(yg.DataType.Int64) & 3) | 1) << 1
    intdiv = (r["price"] // 7) + (r["qty"] % 3)
    logic = yg.logical_or(r["qty"] > 40, yg.logical_and(r["elev"] > 500, r["hab"] < 10))
    expr = bitwise + intdiv + logic
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_mosaic_sum(spark, sf_dir):
    """GroupLayer first-wins mosaic: qty over a shifted price raster."""
    r = harness.lineitem_rasters(sf_dir)
    height = r["price"].window.ysize
    dy, dx = 64, 32
    # Translate by re-declaring the stored grid at a shifted origin: a
    # metadata-only relocation of the same parquet tiles.
    moved = yg.ParquetRasterLayer(r["price"].path, name="price_shifted")
    moved._underlying_area = yg.Area(
        dx * harness.STEP,
        -dy * harness.STEP,
        dx * harness.STEP + harness.RASTER_W * harness.STEP,
        -(dy + height) * harness.STEP,
        harness.PROJ,
    )
    group = yg.GroupLayer([r["qty"], moved])
    return scalar_df(spark, group.sum(spark=spark), "sum_value")


def q_layer_reproject_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    coarse = yg.MapProjection("epsg:4326", harness.STEP * 2, -harness.STEP * 2)
    rl = yg.ReprojectedLayer(r["qty"], coarse, "sum")
    return scalar_df(spark, rl.sum(spark=spark), "sum_value")


def q_layer_math_sum(spark, sf_dir):
    """Compound math coverage in one scan: log/round (integer-exact:
    round(log(qty+1)*1000) sums as whole numbers) plus pow in both operand
    orders — merged from two round-2 micro-queries."""
    r = harness.lineitem_rasters(sf_dir)
    expr = ((r["qty"] + 1).log() * 1000).round() + (r["qty"] ** 2) + (2 ** (r["qty"] % 8))
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


# --------------------------------------------------------------------------
# relational / text queries (documents, embeddings, events, lineitem)
# --------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def q_doc_text_features(spark, sf_dir):
    """Per-document text features in one scan: BPE-ish token count, rolling
    64-bit fingerprint, and the length/punct/stopword quality score — merged
    from three round-2 micro-queries (all pure JVM column algebra)."""
    from yirgacheffe_spark.text import sampling

    return _docs(spark, sf_dir).select(
        "doc_id",
        quality.token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality.fingerprint(F.col("text")).alias("fp"),
        quality.quality_score(F.col("text")).alias("q"),
        # Gates the deterministic curation-sampling hash end-to-end: the
        # md5 hex-prefix unit value and its 25% membership rule.
        (sampling._hash_unit(F.col("doc_id"), 3) < 0.25).alias("in_sample_25"),
    )


# Every stage of q_doc_curate_corpus must fire on the gate corpus, so the
# input is augmented deterministically: exact copies (doc_id+100000, every
# 7th doc) for exact_dedup to remove, and a shared header line prepended to
# every text for boilerplate removal to strip.
_CURATE_HEADER = "BOILERPLATE NOTICE: shared header"
_CURATE_MIN_QUALITY = 0.35
_CURATE_LANG_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25}
_CURATE_SEED = 5


def q_doc_curate_corpus(spark, sf_dir):
    """The one-call curation pipeline end-to-end (VERDICT r4 item 7):
    exact dedup -> boilerplate line removal -> quality floor -> MinHash
    cluster dedup -> stratified language sampling, as ONE composed lazy
    plan (report disabled).  Exactly SQL-mirrorable stage by stage: exact
    dedup via md5 row_number, the line rebuild via zip-unnest +
    order-preserving string_agg, quality via quality_score_sql, near-dup
    clusters via all-pairs Jaccard + recursive-CTE components (LSH proven
    covering on the gate corpora, see q_doc_minhash_pairs), sampling via
    the md5 unit-hash mirror.  Returning the cleaned TEXT makes the value
    hash prove the boilerplate rebuild, not just survivorship."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    copies = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
    )
    aug = docs.unionByName(copies).withColumn(
        "text", F.concat(F.lit(_CURATE_HEADER + "\n"), F.col("text"))
    )
    cur, _ = pipeline.curate_corpus(
        aug,
        boilerplate_min_docs=3,
        min_quality=_CURATE_MIN_QUALITY,
        near_dup_threshold=0.8,
        minhash_num_perm=64,
        minhash_bands=16,
        lang_fractions=_CURATE_LANG_FRACTIONS,
        sample_seed=_CURATE_SEED,
        with_report=False,
    )
    return cur.select("doc_id", "lang", "text")


def q_streaming_ingest(spark, sf_dir):
    """Structured-streaming ingest invariants as a gate row: a 3000-page
    file feed drains through the SAME enrichment as batch (availableNow
    trigger), extraction stays byte-identical, and a re-run against the
    same checkpoint reads nothing twice (exactly-once resume)."""
    import hashlib
    import shutil

    from yirgacheffe_spark.spatial import pages as P
    from yirgacheffe_spark.streaming import ingest

    base = "/dev/shm/yg_gate_stream_" + hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:10]
    shutil.rmtree(base, ignore_errors=True)
    feed, out, ckpt = (os.path.join(base, d) for d in ("feed", "out", "ckpt"))
    P.generate_pages(spark, 3000).write.parquet(feed)

    stream = ingest.enrich_stream(ingest.pages_file_stream(spark, feed), res=6)
    ingest.run_available(stream, out, ckpt)
    first = spark.read.parquet(out)
    n_first = first.count()
    n_mismatch = first.where(F.col("extracted") != F.col("text")).count()
    # Exactly-once: draining again with the same checkpoint adds nothing.
    ingest.run_available(stream, out, ckpt)
    delta = spark.read.parquet(out).count() - n_first
    return spark.createDataFrame(
        [(int(n_first), int(n_mismatch), int(delta))],
        "n_rows long, n_extract_mismatch long, second_run_delta long",
    )


def q_lineage_resume(spark, sf_dir):
    """Checkpoint-resume as a gate row (north rule: per-partition lineage +
    resumability): a partial run records tasks 0 and 2; the resume run must
    recompute ONLY the missing task 1, and the combined output must equal
    the direct computation over all documents."""
    import hashlib
    import shutil

    from yirgacheffe_spark.spatial.lineage import CheckpointedRun

    base = "/dev/shm/yg_gate_lineage_" + hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:10]
    shutil.rmtree(base, ignore_errors=True)
    docs = _docs(spark, sf_dir)

    def task(spark_, task_id):
        return docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == task_id).select(
            "doc_id",
            quality.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )

    CheckpointedRun(spark, base).run([0, 2], task)  # interrupted run
    resumed = CheckpointedRun(spark, base)
    pre_done = sorted(resumed.completed_tasks())
    out = resumed.run([0, 1, 2], task)
    newly_done = sorted(set(resumed.completed_tasks()) - set(pre_done))
    stats = out.agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    return spark.createDataFrame(
        [(
            int(stats["n"]),
            int(stats["t"]),
            len(pre_done),
            1 if newly_done == [1] else 0,
        )],
        "n_docs long, total_tokens long, pre_done long, resumed_only_missing long",
    )


def q_doc_quality_filter(spark, sf_dir):
    """The canonical training-data gate: keep documents passing quality,
    language and length thresholds — one scan, all JVM column algebra."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        quality.quality_score(F.col("text")).alias("q"),
        quality.token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality.language_id(F.col("text")).alias("lang"),
    )
    return scored.where(
        (F.col("q") >= 0.3) & (F.col("lang") == "en") & (F.col("n_tokens") >= 20)
    )


def _multiline_docs(spark, sf_dir):
    """Documents with deterministic multi-line text: the gate corpus is
    single-line word salad, so the line-level curation operators (C4 rules,
    Gopher signals, within-doc line dedup) get their line structure
    synthesised identically on both engines — substring/concat only, so the
    DuckDB mirror is bit-exact."""
    l1 = F.substring("text", 1, 60)
    l2 = F.substring("text", 30, 45)
    synth = F.concat_ws("\n", l1, l2, l1, F.col("text"), l2)
    return _docs(spark, sf_dir).select("doc_id", synth.alias("text"))


# Shared CTE: the SQL-side twin of _multiline_docs.
_MULTILINE_CTE = """
    WITH mdocs AS (
        SELECT doc_id,
               concat_ws(chr(10),
                   substring(text, 1, 60), substring(text, 30, 45),
                   substring(text, 1, 60), text, substring(text, 30, 45)
               ) AS text
        FROM documents
    )
"""


def q_doc_line_dedup(spark, sf_dir):
    """Within-document line dedup (the in-document half of repetition
    cleanup, ref pipelines: CCNet/RefinedWeb): first occurrence of each line
    survives, order preserved, rebuilt text returned so the value hash
    proves the rebuild.  Shuffle-free array algebra (text/dedup.py)."""
    from yirgacheffe_spark.text import dedup as D

    return D.dedup_lines_within_doc(_multiline_docs(spark, sf_dir))


def q_doc_c4_clean(spark, sf_dir):
    """C4 cleaning rules end-to-end (Raffel et al. 2020 §2.2): line filter
    (terminal punctuation, >=5 words, javascript blocklist) then page filter
    (>=3 sentences, no 'lorem ipsum', no '{').  Line/sentence structure is
    synthesised deterministically; both engines rebuild the full cleaned
    text, and doc_id%11 / %13 plant '{' and 'lorem ipsum' pages that must
    drop."""
    from yirgacheffe_spark.text import c4

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lA = F.concat(F.substring("text", 1, 40), F.lit(" first sentence here."))
    lB = F.lit("Enable javascript to view this page.")
    lC = F.concat(F.substring("text", 50, 40), F.lit(" and more words here!"))
    lD = F.concat(F.substring("text", 200, 25), F.lit(" tail."))
    lE = F.substring("text", 20, 30)
    lF = F.when(F.col("doc_id") % 11 == 0,
                F.lit("code { example } block with braces here."))
    lG = F.when(F.col("doc_id") % 13 == 0,
                F.lit("lorem ipsum dolor sit amet consectetur."))
    synth = F.concat_ws("\n", lA, lB, lC, lD, lE, lF, lG)
    out = c4.c4_line_filter(docs.withColumn("text", synth))
    return c4.c4_page_filter(out)


def q_doc_gopher_signals(spark, sf_dir):
    """Gopher quality signals (Rae et al. 2021 App. A), the JVM column-
    algebra subset: word/line/paragraph statistics incl. duplicate-line and
    duplicate-paragraph fractions, over synthesised multi-line multi-
    paragraph text (dup lines/paras planted so the fractions are nonzero).
    The n-gram repetition signals are pandas-UDF-backed and covered by the
    Python differential in tests/test_gopher.py."""
    from yirgacheffe_spark.text import gopher

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    l1 = F.substring("text", 1, 48)
    para = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("- bullet list item"),
        l1,
        l1,
        F.concat(F.lit("### sym "), F.substring("text", 10, 20), F.lit(" ...")),
    )
    synth = F.concat(
        para, F.lit("\n\nshared dup paragraph\n\nshared dup paragraph")
    )
    sig = gopher.gopher_signals(docs.withColumn("text", synth))
    return sig.select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "frac_bullet_lines", "frac_ellipsis_lines", "frac_alpha_words",
        "n_stop_hits", "frac_dup_lines", "frac_dup_line_chars",
        "frac_dup_paras", "frac_dup_para_chars",
    )


def q_ann_topk_multi(spark, sf_dir):
    """Exact top-5 for a 5-query batch (query set = the 5 lowest vec_ids, so
    the oracle derives the same literals from the table) — registered on the
    PRODUCTION numpy-matmul scorer (differential-tested equal to the fold
    scorer that term-for-term mirrors the oracle, tests/test_text.py)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_topk_fast(emb, qs, k=5)
    return out.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def q_doc_langid(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select(quality.language_id(F.col("text")).alias("guess"))
        .groupBy("guess")
        .agg(F.count("*").alias("n"))
    )


def q_doc_minhash_pairs(spark, sf_dir):
    """End-to-end MinHash near-dup detection (sign -> LSH -> Jaccard verify
    >= 0.8), oracled against ALL-pairs exact Jaccard: the LSH candidate set
    covers every true pair on both gate corpora (verified at sf0.01 and
    sf0.001; at J=0.8, num_perm=64/bands=16 the per-pair candidate
    probability is 1-(1-J^4)^16 ~ 0.9998), so the output equals the
    filter's exact answer there.  The Jaccard division of two ints is
    exactly rounded in both engines — bit-equal without rounding."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_dedup_pairs(docs, num_perm=64, bands=16, threshold=0.8)


def q_doc_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs.  chunks (8) > max_hamming (7) makes the
    pigeonhole banding COMPLETE, so the output equals ALL pairs within the
    Hamming bound — and the MD5 word hash (``dedup._md5_word_hashes``) is
    exactly DuckDB's ``md5_number_upper``, giving the pipeline an exact SQL
    oracle (signature -> bit votes -> code -> all-pairs Hamming filter)."""
    hashes = dedup.simhash_column(_docs(spark, sf_dir))
    out = dedup.simhash_near_dups(hashes, max_hamming=7, chunks=8)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_doc_dedup_components(spark, sf_dir):
    """Transitive near-dup clusters: SimHash pairs (complete pigeonhole
    banding + exact MD5 word hash, see q_doc_simhash_pairs) fed through the
    distributed connected-components operator (large/small-star label
    propagation).  Oracle: a DuckDB RECURSIVE reachability CTE over the
    same pair SQL — component = smallest reachable id, both engines."""
    docs = _docs(spark, sf_dir)
    prs = dedup.simhash_near_dups(
        dedup.simhash_column(docs), max_hamming=7, chunks=8
    )
    return dedup.connected_components(prs).select("id", "component")


def q_doc_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard on deterministic candidate pairs (adjacent
    doc ids) — the LSH verifier in isolation, with an exact SQL oracle."""
    docs = _docs(spark, sf_dir)
    ids = docs.select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 1).alias("id_b"))
    pairs_in = ids.join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "inner"
    ).select("id_a", "id_b")
    out = dedup.jaccard_pairs(docs, pairs_in)
    return out.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


def q_emb_cosine_near_dup_lsh(spark, sf_dir):
    """Production near-dup path: hyperplane-LSH candidates (count-filtered
    buckets, map-side pair expansion — no crossJoin anywhere in the plan),
    exact rounded-cosine verify.  The test corpus's 0.42 threshold sits at
    65 degrees, so banding is shallow (4 bits) and wide (64 tables) to keep
    per-pair miss probability < 1e-6; at a realistic 0.9 near-dup threshold
    the same operator prunes aggressively with 8 bits x 16 tables."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return ann.cosine_near_dup_pairs_lsh(emb, threshold=0.42, bits=4, tables=64)


def q_ann_topk_lsh(spark, sf_dir):
    """LSH top-10 for one query, oracled against brute force: at bits=3 /
    tables=16 the bucket union covers the true top-10 on both gate corpora
    (verified at sf0.01 and sf0.001), so the probabilistic path's output is
    deterministically the exact answer there — recall < 1 on other corpora
    is the documented LSH trade (tests assert the recall separately)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    first = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.lsh_topk(spark, emb, first, k=10, bits=3, tables=16)
    return out.select("vec_id", F.col("rank").cast("long").alias("rank"))


def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.floor("l_extendedprice")).cast("double").alias("sum_price_floor"),
    )


# --------------------------------------------------------------------------
# spatial queries (customer-derived points)
# --------------------------------------------------------------------------

def q_spatial_cell_assign(spark, sf_dir):
    pts = harness.customer_points(spark, sf_dir)
    return pts.select(
        "c_custkey", joins.cell_expr("lat", "lng", RES).alias("cell")
    )


def q_spatial_pip_table(spark, sf_dir):
    """Point-in-polygon with a DataFrame polygon side: 5 region-derived
    rectangles (WKT built JVM-side), cover cells computed distributed, exact
    ray-cast verify with a per-batch parse cache."""
    pts = harness.customer_points(spark, sf_dir).withColumn(
        "cell", joins.cell_expr("lat", "lng", RES)
    )
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    w = (F.col("r_regionkey") * 60 - 150).cast("int")
    s = (F.col("r_regionkey") * 20 - 50).cast("int")
    polys = region.select(
        F.col("r_regionkey").cast("long").alias("poly_id"),
        F.format_string(
            "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
            w, s, w + 40, s, w + 40, s + 30, w, s + 30, w, s,
        ).alias("geom_wkt"),
    )
    out = joins.point_in_polygon_join_df(spark, pts, polys, res=RES)
    return out.select("c_custkey", "poly_id")


def q_spatial_knn(spark, sf_dir):
    pts = harness.customer_points(spark, sf_dir).withColumn(
        "cell", joins.cell_expr("lat", "lng", RES)
    )
    out = joins.knn_join(spark, pts, KNN_QUERIES, k=5, res=RES, id_col="c_custkey")
    return out.select(
        "query_id", "c_custkey", F.round(F.col("dist_m")).cast("long").alias("dist_round_m")
    )


def q_spatial_knn_table(spark, sf_dir):
    """Table-vs-table kNN: a DataFrame of nation-derived query points against
    the customer point table — all-DataFrame ring expansion (shell cells from
    explode(sequence), JVM haversine, localCheckpoint rounds; the driver only
    checks whether unsettled queries remain)."""
    pts = harness.customer_points(spark, sf_dir).withColumn(
        "cell", joins.cell_expr("lat", "lng", RES)
    )
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    qdf = nation.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        ((F.col("n_nationkey") * 7) % 160 - 80 + 0.5).cast("double").alias("lat"),
        ((F.col("n_nationkey") * 13) % 360 - 180 + 0.5).cast("double").alias("lng"),
    )
    # max_ring=64 >= cols/2 at res 5: the expansion provably covers the whole
    # grid before force-settling, so results stay exact even on the sparsest
    # test corpus (polar queries at sf0.001 need ring > 6).
    out = joins.knn_join_df(spark, pts, qdf, k=3, res=RES, max_ring=64,
                            id_col="c_custkey")
    return out.select(
        "query_id", "c_custkey",
        F.round(F.col("dist_m")).cast("long").alias("dist_round_m"),
    )


def q_pages_extract_invariant(spark, sf_dir):
    from yirgacheffe_spark.spatial import pages as P

    df = P.enriched_pages(spark, 20000, res=RES)
    stats = df.agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("extracted") != F.col("text"), 1).otherwise(0)).alias("n_mismatch"),
    ).collect()[0]
    return spark.createDataFrame(
        [(int(stats["n_pages"]), int(stats["n_mismatch"]))],
        "n_pages long, n_mismatch long",
    )


def q_adaptive_cells(spark, sf_dir):
    """Adaptive cell splitting, verified by SQL-checkable invariants: every
    row is kept (total), every row's adaptive key is the closed-form cell of
    its own point at the key's resolution (n_key_mismatch = 0), and any
    still-over-capacity cell sits at the exhausted level budget
    (n_over_below_max_depth = 0)."""
    from yirgacheffe_spark.spatial import pages as P

    res, max_rows, extra = 3, 500, 4
    df = P.enriched_pages(spark, 20000, res=res)
    out = joins.adaptive_cells(df, res=res, max_rows=max_rows, max_extra_levels=extra)
    res_of = F.shiftrightunsigned(F.col("part_cell"), 56).cast("int")
    recomputed = F.when(res_of == res, joins.cell_expr("lat", "lng", res))
    for r in range(res + 1, res + extra + 1):
        recomputed = recomputed.when(res_of == r, joins.cell_expr("lat", "lng", r))
    checked = out.withColumn("_ok", F.col("part_cell") == recomputed).withColumn(
        "_res", res_of
    )
    per_cell = checked.groupBy("part_cell", "_res").agg(F.count("*").alias("n"))
    over = per_cell.where(
        (F.col("n") > max_rows) & (F.col("_res") < res + extra)
    ).count()
    stats = checked.agg(
        F.count("*").alias("total"),
        F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    return spark.createDataFrame(
        [(int(stats["total"]), int(stats["bad"]), int(over))],
        "total long, n_key_mismatch long, n_over_below_max_depth long",
    )


def q_multimodal_features(spark, sf_dir):
    media = multimodal.synthesize_media(spark, 500)
    feats = multimodal.extract_features(media, decode="fake", dim=16)
    return feats.select(
        "media_id",
        "feat_dim",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )




def q_layer_pow_sum(spark, sf_dir):
    r = harness.lineitem_rasters(sf_dir)
    expr = (r["qty"] ** 2) + (2 ** (r["qty"] % 8))
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_uniform_sum(spark, sf_dir):
    """UniformAreaLayer: a 1-px-wide per-row column broadcast across the full
    raster width inside the kernel (value of row y is y+1)."""
    height = harness.raster_height(sf_dir)
    col = np.arange(height, dtype=np.float64) + 1
    ua = yg.UniformAreaLayer(
        col, yg.Area(-180.0, 0.0, 180.0, -height * harness.STEP, harness.PROJ), "rowval"
    )
    r = harness.lineitem_rasters(sf_dir)
    return scalar_df(spark, (r["qty"] * ua).sum(spark=spark), "sum_value")


def q_layer_area_raster_sum(spark, sf_dir):
    """AreaPerPixelLayer over the flagship habitat/elevation mask: the most
    common real AoH workflow (``yg.area_raster() * mask`` summed = masked
    area in m², reference ``_layers/area_per_pixel.py:30-123``).  Per-pixel
    areas are rounded to whole m² before summation so the float64 aggregate
    is integer-exact and fold-order-free; the oracle mirrors the ellipsoid
    band-area formula with the kernel's own constants inlined."""
    r = harness.lineitem_rasters(sf_dir)
    mask = r["hab"].isin([1.0, 5.0, 7.0, 11.0]) * (
        (r["elev"] >= 100) & (r["elev"] <= 800)
    )
    expr = (mask * yg.area_raster(harness.PROJ)).round()
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_cell_mask_sum(spark, sf_dir):
    """CellLayer (H3-analog) rasterized as a mask over the qty raster."""
    from yirgacheffe_spark.spatial import cells as ci

    cell = int(ci.latlng_to_cell(-1.0, 1.0, 7))
    mask = yg.h3_tile(cell, harness.PROJ)
    r = harness.lineitem_rasters(sf_dir)
    return scalar_df(spark, (r["qty"] * mask).sum(spark=spark), "sum_value")


# Species-range polygons for the flagship AoH recipe.  Edges sit 0.3 px
# inside pixel boundaries so center-containment and ALL_TOUCHED agree on an
# exact rectangle of pixels, making the burned mask SQL-expressible:
#   A: rows 2..9,  cols 5..39     B: rows 12..17, cols 80..119
#   C: species 2 — must be dropped by the where_filter, never burned.
_RANGE_FEATURES = [
    {"species": 1, "geom_wkt":
        "POLYGON ((0.053 -0.023, 0.397 -0.023, 0.397 -0.097, 0.053 -0.097, 0.053 -0.023))"},
    {"species": 1, "geom_wkt":
        "POLYGON ((0.803 -0.123, 1.197 -0.123, 1.197 -0.177, 0.803 -0.177, 0.803 -0.123))"},
    {"species": 2, "geom_wkt":
        "POLYGON ((2.003 -0.023, 2.197 -0.023, 2.197 -0.057, 2.003 -0.057, 2.003 -0.023))"},
]


def q_layer_vector_mask_sum(spark, sf_dir):
    """The reference's flagship AoH recipe with a real rasterized polygon
    term (README.md:53-65): habitat isin x elevation band x species range
    polygon (on-demand ALL_TOUCHED rasterization, _layers/vectors.py:332-407)
    x qty, summed."""
    r = harness.lineitem_rasters(sf_dir)
    range_poly = yg.read_shape(
        _RANGE_FEATURES, harness.PROJ, burn_value=1, where_filter="species=1",
        name="range",
    )
    expr = (
        r["hab"].isin([1.0, 5.0, 7.0, 11.0])
        * ((r["elev"] >= 100) & (r["elev"] <= 800))
        * range_poly
        * r["qty"]
    )
    return scalar_df(spark, expr.sum(spark=spark), "sum_value")


def q_layer_reproject_nearest_sum(spark, sf_dir):
    """Nearest-neighbour reprojection at a NON-integer scale factor (1.5x
    coarsening) over an expression (as_area re-scope -> as_projection),
    exercising the preimage-window gather.  Target centers never land on
    pixel boundaries ((6j+3)/4 is never integral), so the SQL mirror
    floor((6j+3)/4) is float-safe.

    Second column: the same qty pixels framed on the ellipsoidal World
    Mercator grid (epsg:3395, 5 km pixels) warped to lat/lng through the
    separable cross-CRS nearest path — the oracle mirrors the closed-form
    forward transform x = a*rad(lng), y = a*(atanh(sin p) - e*atanh(e sin p))
    term-for-term, gating the new CRS's math end-to-end."""
    r = harness.lineitem_rasters(sf_dir)
    clipped = r["qty"].as_area(yg.Area(0.0, 0.0, 2.4, -1.2, harness.PROJ))
    coarse = yg.MapProjection("epsg:4326", 0.015, -0.015)
    total = clipped.as_projection(coarse, "nearest").sum(spark=spark)

    vals = r["qty"].read_array(0, 0, 240, 120)
    merc = yg.MapProjection("epsg:3395", 5000.0, -5000.0)
    src = yg.from_array(vals, (0.0, 10_000_000.0), merc)
    tgt = yg.MapProjection("epsg:4326", 0.03, -0.03)
    warped = yg.ReprojectedLayer(src, tgt, "nearest").as_area(
        yg.Area(0.6, 66.0, 9.6, 64.5, tgt)
    )
    total_3395 = warped.sum(spark=spark)
    out = scalar_df(spark, total, "sum_value")
    return out.withColumn("sum_value_3395", F.lit(float(total_3395)))


def q_layer_tiled_mosaic_sum(spark, sf_dir):
    """TiledGroupLayer over a regular split of the qty raster (top/bottom
    halves with an 8-row overlap carrying identical data): first-wins
    compositing must reproduce the full raster exactly, so the oracle is
    plain SUM(qty)."""
    import pyarrow.parquet as pq
    from yirgacheffe_spark.sources.parquet import write_array_as_raster_table

    base = os.path.join(harness._cache_dir(sf_dir), "tiled_mosaic")  # noqa: SLF001
    paths = [os.path.join(base, "top"), os.path.join(base, "bottom")]
    if not all(os.path.exists(os.path.join(p, "_raster_meta.json")) for p in paths):
        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                     "l_quantity"],
        )
        cols = {n: table.column(n).to_numpy() for n in table.column_names}
        order = np.lexsort(
            (cols["l_suppkey"], cols["l_partkey"], cols["l_linenumber"],
             cols["l_orderkey"])
        )
        n = len(order)
        height = harness.raster_height(sf_dir)
        grid = np.zeros(height * 256, dtype=np.float64)
        grid[:n] = cols["l_quantity"][order].astype(np.float64)
        grid = grid.reshape(height, 256)
        os.makedirs(base, exist_ok=True)
        half = height // 2
        for p, (y0, y1) in zip(paths, [(0, half + 8), (half, height)]):
            area = yg.Area(0.0, -y0 * harness.STEP, 256 * harness.STEP,
                           -y1 * harness.STEP, harness.PROJ)
            write_array_as_raster_table(p, grid[y0:y1], area)
    mosaic = yg.TiledGroupLayer(
        [yg.ParquetRasterLayer(p) for p in paths], "tiled"
    )
    return scalar_df(spark, mosaic.sum(spark=spark), "sum_value")


def q_layer_nary_sum(spark, sf_dir):
    """yg.sum over N layers (balanced reduce) + yg.any as a mask."""
    r = harness.lineitem_rasters(sf_dir)
    total = yg.sum([r["qty"], r["elev"], r["hab"]])
    masked = total * yg.any([r["qty"] > 45, r["elev"] > 900])
    return scalar_df(spark, masked.sum(spark=spark), "sum_value")


def q_layer_from_array_sum(spark, sf_dir):
    """ArrayLayer (from_array, shipped in the kernel closure) times the
    parquet qty channel; the array's values are the linear pixel index, so
    the oracle is SUM(qty * i)."""
    h = harness.raster_height(sf_dir)
    arr = np.arange(h * 256, dtype=np.float64).reshape(h, 256)
    idx = yg.from_array(arr, (0.0, 0.0), harness.PROJ, "idx")
    r = harness.lineitem_rasters(sf_dir)
    return scalar_df(spark, (r["qty"] * idx).sum(spark=spark), "sum_value")


def q_layer_read_array_window(spark, sf_dir):
    """read_array sink: materialise a driver-side numpy window (rows 3..10,
    cols 17..100) and report its float64 sum."""
    from yirgacheffe_spark.plans import executor as X

    r = harness.lineitem_rasters(sf_dir)
    window = X.read_array(r["qty"] * 2 + 1, 17, 3, 83, 7, spark=spark)
    return scalar_df(spark, float(window.astype(np.float64).sum()), "sum_value")


def q_layer_multiband_sum(spark, sf_dir):
    """Interleaved multiband table (one tile table, bands in shared row
    groups -> zero-shuffle tile grid): sum(b1 * b2) where b1 = qty
    and b2 = hab derive from lineitem."""
    import pyarrow.parquet as pq
    from yirgacheffe_spark.sources.parquet import write_multiband_interleaved

    base = os.path.join(harness._cache_dir(sf_dir), "mb_qty_hab")  # noqa: SLF001
    if not os.path.exists(os.path.join(base, "_raster_meta.json")):
        table = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                     "l_quantity"],
        )
        cols = {n: table.column(n).to_numpy() for n in table.column_names}
        order = np.lexsort(
            (cols["l_suppkey"], cols["l_partkey"], cols["l_linenumber"],
             cols["l_orderkey"])
        )
        n = len(order)
        height = harness.raster_height(sf_dir)
        qty = np.zeros(height * 256, dtype=np.float64)
        hab = np.zeros(height * 256, dtype=np.float64)
        qty[:n] = cols["l_quantity"][order].astype(np.float64)
        hab[:n] = (cols["l_suppkey"][order] % 20).astype(np.float64)
        area = yg.Area(0.0, 0.0, 256 * harness.STEP, -height * harness.STEP,
                       harness.PROJ)
        write_multiband_interleaved(
            base, {1: qty.reshape(height, 256), 2: hab.reshape(height, 256)}, area
        )
    b1 = yg.ParquetRasterLayer(base, band=1, name="mb_qty")
    b2 = yg.ParquetRasterLayer(base, band=2, name="mb_hab")
    return scalar_df(spark, (b1 * b2).sum(spark=spark), "sum_value")


def q_layer_pixel_coords_roundtrip(spark, sf_dir):
    """latlng_for_pixel / pixel_for_latlng invariants: the round trip is the
    identity over a probe grid, and coordinates follow the closed form
    (lat = -(y + 0) * step at the pixel's top-left corner)."""
    r = harness.lineitem_rasters(sf_dir)["qty"]
    h = harness.raster_height(sf_dir)
    mismatch = 0
    probes = [(0, 0), (13, 7), (255, min(h - 1, 21)), (128, min(h - 1, 3))]
    for x, y in probes:
        lat, lng = r.latlng_for_pixel(x, y)
        if abs(lng - x * harness.STEP) > 1e-9 or abs(lat + y * harness.STEP) > 1e-9:
            mismatch += 1
        if r.pixel_for_latlng(lat, lng) != (x, y):
            mismatch += 1
    return spark.createDataFrame(
        [(len(probes), mismatch)], "n_probes long, n_mismatch long"
    )


def q_events_sessionize(spark, sf_dir):
    """Event sessionization (30-minute inactivity gap): per-user session and
    event counts.  Gap detection is a LAG over (ts, event_id) on whole epoch
    seconds, identical in both engines."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    # Interval comparison: microsecond-exact integer arithmetic in both
    # engines (TIMESTAMP_NTZ has no epoch cast, and epoch floats would not
    # be bit-comparable anyway).
    gap = F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")
    new_sess = F.when(prev.isNull() | gap, 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_sess").cast("long").alias("n_sessions"),
        )
    )


def q_doc_dedup_best_of_group(spark, sf_dir):
    """Fingerprint-group dedup keeping the best representative: highest
    quality score, then lowest doc_id — the crawl-dedup policy of keeping
    the 'canonical' copy rather than the first seen."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        quality.fingerprint(F.col("text")).alias("fp"),
        quality.quality_score(F.col("text")).alias("q"),
    )
    w = W.partitionBy("fp").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "fp", "q")
    )


# DSIR gate parameters: target = the English slice, raw = the full corpus.
_DSIR_BUCKETS = 256
_DSIR_K = 25
_DSIR_SEED = 9
_DSIR_ADD_K = 0.01


def q_doc_dsir_select(spark, sf_dir):
    """DSIR importance resampling end-to-end: hashed-bigram bucket models
    of the English slice (target) and the full corpus (raw), per-document
    log importance weights, content-keyed Gumbel-top-25 selection.  The
    oracle mirrors every stage in DuckDB — the md5 bucket hash, the
    add-k smoothed log-ratio sum, and the md5-unit Gumbel noise are all
    bit-reproducible; selection gaps are macroscopic relative to float
    fold-order noise, and the returned columns (ids + lang) are exact
    integers/strings."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    target = docs.where(F.col("lang") == "en")
    tm = lm.train_hashed_ngram_model(target, n=2, buckets=_DSIR_BUCKETS)
    rm = lm.train_hashed_ngram_model(docs, n=2, buckets=_DSIR_BUCKETS)
    chosen = lm.dsir_select(docs, tm, rm, k=_DSIR_K, n=2,
                            buckets=_DSIR_BUCKETS, add_k=_DSIR_ADD_K,
                            seed=_DSIR_SEED)
    return chosen.select("doc_id", "lang")


def q_events_topk_per_user(spark, sf_dir):
    from pyspark.sql.window import Window as W

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ranked = ev.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
        ).cast("long"),
    )
    return ranked.where(F.col("rk") <= 2).select("user_id", "event_id", "rk")


def q_orders_customer_join(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.floor("o_totalprice")).cast("double").alias("rev_floor"))
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries: the driver's correctness gate verifies at most the
    # first 50 registry entries, so round-2's 60-query registry left 10 tail
    # queries without a driver-side row.  Round-2 micro-queries were merged
    # into compound gate rows (elementwise/intops/math/extent/text_features)
    # to make every registered query driver-visible.
    return {
        "layer_sum": q_layer_sum,
        "layer_elementwise_sum": q_layer_elementwise_sum,
        "layer_mask_mul_sum": q_layer_mask_mul_sum,
        "layer_where_clip_sum": q_layer_where_clip_sum,
        "layer_minmax": q_layer_minmax,
        "layer_unique_counts": q_layer_unique_counts,
        "layer_extent_sum": q_layer_extent_sum,
        "layer_conv2d_sum": q_layer_conv2d_sum,
        "layer_intops_sum": q_layer_intops_sum,
        "layer_math_sum": q_layer_math_sum,
        "layer_mosaic_sum": q_layer_mosaic_sum,
        "layer_reproject_sum": q_layer_reproject_sum,
        "layer_reproject_nearest_sum": q_layer_reproject_nearest_sum,
        "layer_uniform_sum": q_layer_uniform_sum,
        "layer_area_raster_sum": q_layer_area_raster_sum,
        "layer_cell_mask_sum": q_layer_cell_mask_sum,
        "layer_vector_mask_sum": q_layer_vector_mask_sum,
        "layer_tiled_mosaic_sum": q_layer_tiled_mosaic_sum,
        "layer_nary_sum": q_layer_nary_sum,
        "layer_from_array_sum": q_layer_from_array_sum,
        "layer_read_array_window": q_layer_read_array_window,
        "layer_multiband_sum": q_layer_multiband_sum,
        "layer_pixel_coords_roundtrip": q_layer_pixel_coords_roundtrip,
        "events_sessionize": q_events_sessionize,
        "pricing_summary": q_pricing_summary,
        "orders_customer_join": q_orders_customer_join,
        "doc_dedup_best_of_group": q_doc_dedup_best_of_group,
        "doc_text_features": q_doc_text_features,
        # r5: events_topk_per_user gave its slot (50-row cap) to the DSIR
        # selection pipeline — window ranking stays gate-covered by
        # events_sessionize and the rank stages inside spatial_knn_table.
        "doc_dsir_select": q_doc_dsir_select,
        # The gate is capped at 50 rows; exact_dedup's standalone row gave
        # its slot to doc_curate_corpus, which oracles the SAME operator as
        # its first pipeline stage (md5 row_number mirror) — plus
        # doc_dedup_best_of_group covers the fingerprint-group variant.
        "doc_curate_corpus": q_doc_curate_corpus,
        "doc_langid": q_doc_langid,
        "doc_quality_filter": q_doc_quality_filter,
        # r5: events_hourly / doc_lang_stats / spatial_pip gave their slots
        # (50-row gate cap) to the round's new curation operators — hourly
        # agg is covered by pricing_summary, langid by doc_langid, and the
        # PIP engine path by spatial_pip_table (same join, DataFrame side).
        "doc_line_dedup": q_doc_line_dedup,
        "doc_c4_clean": q_doc_c4_clean,
        "doc_gopher_signals": q_doc_gopher_signals,
        "doc_dedup_components": q_doc_dedup_components,
        "lineage_resume": q_lineage_resume,
        "streaming_ingest": q_streaming_ingest,
        "ann_topk_multi": q_ann_topk_multi,
        "emb_cosine_near_dup_lsh": q_emb_cosine_near_dup_lsh,
        "spatial_cell_assign": q_spatial_cell_assign,
        "spatial_pip_table": q_spatial_pip_table,
        "spatial_knn": q_spatial_knn,
        "spatial_knn_table": q_spatial_knn_table,
        "pages_extract_invariant": q_pages_extract_invariant,
        "adaptive_cells": q_adaptive_cells,
        "doc_minhash_pairs": q_doc_minhash_pairs,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "ann_topk_lsh": q_ann_topk_lsh,
        "multimodal_features": q_multimodal_features,
    }


def _curate_oracle_sql() -> str:
    """Stage-by-stage DuckDB mirror of q_doc_curate_corpus: augmentation,
    md5 exact dedup, hot-line strip + order-preserving rebuild (zip-unnest
    ordinality), quality_score_sql floor, all-pairs Jaccard >= 0.8 pairs +
    recursive-CTE components (= the engine's LSH+verify+connected
    components on the gate corpora), md5 unit-hash language sampling."""
    fracs = ", ".join(
        f"('{k}', {v})" for k, v in _CURATE_LANG_FRACTIONS.items()
    )
    return f"""
        WITH RECURSIVE aug AS (
            SELECT doc_id, '{_CURATE_HEADER}' || chr(10) || text AS text, lang
            FROM documents
            UNION ALL
            SELECT doc_id + 100000, '{_CURATE_HEADER}' || chr(10) || text, lang
            FROM documents WHERE doc_id % 7 = 0
        ), ex AS (
            SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang, row_number() OVER (
                    PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM aug
            ) WHERE rn = 1
        ), split_lines AS (
            SELECT doc_id, lang,
                   unnest(string_split(text, chr(10))) AS l,
                   unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
            FROM ex
        ), hot AS (
            SELECT trim(l) AS tl FROM split_lines
            WHERE length(trim(l)) > 0
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
        ), kept AS (
            SELECT s.doc_id, s.l, s.pos
            FROM split_lines s LEFT JOIN hot h ON trim(s.l) = h.tl
            WHERE h.tl IS NULL
        ), rebuilt AS (
            SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS text
            FROM kept GROUP BY doc_id
        ), cleaned AS (
            SELECT e.doc_id, COALESCE(r.text, '') AS text, e.lang
            FROM ex e LEFT JOIN rebuilt r USING (doc_id)
        ), quality_ok AS (
            SELECT * FROM cleaned
            WHERE {quality.quality_score_sql("text")} >= {_CURATE_MIN_QUALITY}
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                            generate_series(1, len(w) - 2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                        WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                        ELSE [] END AS s
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                  FROM quality_ok)
        ), prs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON b.doc_id > a.doc_id
            WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0
                       THEN 1.0
                       ELSE len(list_intersect(a.s, b.s)) * 1.0
                            / len(list_distinct(list_concat(a.s, b.s)))
                  END >= 0.8
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM prs
            UNION SELECT id_b, id_a FROM prs
        ), reach(id, comp) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.comp FROM edges e JOIN reach r ON r.id = e.b
        ), losers AS (
            SELECT id FROM reach GROUP BY id HAVING MIN(comp) < id
        ), surv AS (
            SELECT q.* FROM quality_ok q
            LEFT JOIN losers lo ON q.doc_id = lo.id
            WHERE lo.id IS NULL
        ), frac AS (
            SELECT * FROM (VALUES {fracs}) AS t(lang, f)
        )
        SELECT s.doc_id, s.lang, s.text
        FROM surv s JOIN frac USING (lang)
        WHERE ('0x' || substr(md5(s.doc_id || ' ' || {_CURATE_SEED}), 1, 16))::UBIGINT
              / 18446744073709551616.0 < f
    """


def _mulmod64_sql(a: str, c: int) -> str:
    """(a * c) mod 2^64 in DuckDB: hi/lo 32-bit decomposition through
    HUGEINT (a HUGEINT product of two 64-bit values would overflow)."""
    return (
        f"CAST(((({a})::HUGEINT % 4294967296) * {c} + "
        f"(((({a})::HUGEINT // 4294967296) * {c}) % 4294967296) * 4294967296) "
        f"% 18446744073709551616 AS UBIGINT)"
    )


def _splitmix_sql(x: str, salt: int) -> str:
    """DuckDB mirror of spatial.pages._mix (splitmix64) — validated equal
    to the numpy form for ids 0..499 at every salt the oracle uses."""
    z0 = (
        f"CAST((({x})::HUGEINT + {(salt * 0x9E3779B97F4A7C15) % (1 << 64)}) "
        f"% 18446744073709551616 AS UBIGINT)"
    )
    z1 = _mulmod64_sql(f"xor({z0}, ({z0} >> 30))", 0xBF58476D1CE4E5B9)
    z2 = _mulmod64_sql(f"xor({z1}, ({z1} >> 27))", 0x94D049BB133111EB)
    return f"xor({z2}, ({z2} >> 31))"


def _multimodal_oracle_sql(n_rows: int = 500, seed: int = 42) -> str:
    """Exact mirror of q_multimodal_features: the synthetic payload is the
    8 little-endian bytes of splitmix(id, seed+7) tiled to width*height, so
    bin-0 of the 16-bin histogram counts bytes < 16 with per-byte
    multiplicity need//8 (+1 for the truncation prefix).  The engine's
    float32 feature quantisation is mirrored with a FLOAT round trip."""
    h = _splitmix_sql("i", seed + 7)
    w = f"16 + ({_splitmix_sql('i', seed + 1)} % 16)"
    ht = f"16 + ({_splitmix_sql('i', seed + 2)} % 16)"
    return f"""
        WITH m AS (
            SELECT i AS media_id, {h} AS h,
                   CAST({w} AS BIGINT) * CAST({ht} AS BIGINT) AS need
            FROM range({n_rows}) t(i)
        ), b AS (
            SELECT media_id, j,
                   CAST((h >> CAST(8 * j AS INTEGER)) & 255 AS BIGINT) AS byte,
                   need
            FROM m, range(8) r(j)
        )
        SELECT media_id, CAST(16 AS INTEGER) AS feat_dim,
               round(CAST(CAST(SUM(CASE WHEN byte < 16
                             THEN need // 8
                                  + (CASE WHEN j < need % 8 THEN 1 ELSE 0 END)
                             ELSE 0 END) AS DOUBLE) / MAX(need)
                     AS FLOAT)::DOUBLE, 6) AS f0
        FROM b GROUP BY media_id
    """


def oracle_sql() -> dict[str, str]:
    h = "(SELECT h FROM dims)"
    pad = "(SELECT pad FROM dims)"
    mask = "hab IN (1, 5, 7, 11) AND elev >= 100 AND elev <= 800"
    return {
        "layer_sum": PX_CTE + "SELECT SUM(qty) AS sum_value FROM px",
        # Pad correction 62 = 7 (qty*3+7) + 25 (abs(0-25)) + 25 (max(0,25))
        # + 0 (min(0,500)) + 5 (0/0 -> nan -> 5) at the zero-filled pixels.
        "layer_elementwise_sum": PX_CTE
        + f"""SELECT SUM((qty * 3 + 7) + abs(qty - 25)
                + greatest(qty, 25) + least(elev, 500)
                + CASE WHEN qty > 0 THEN 2 ELSE 5 END)
                + {pad} * 62.0 AS sum_value FROM px""",
        "layer_mask_mul_sum": PX_CTE
        + f"SELECT SUM(CASE WHEN {mask} THEN qty ELSE 0 END) AS sum_value FROM px",
        "layer_where_clip_sum": PX_CTE
        + "SELECT SUM(CASE WHEN qty > 25 THEN least(greatest(price, 1000), 50000) ELSE 0 END) AS sum_value FROM px",
        "layer_minmax": PX_CTE
        + f"""SELECT least(MIN(qty * 2 + 1), CASE WHEN {pad} > 0 THEN 1.0 ELSE MIN(qty * 2 + 1) END) AS min_value,
                     MAX(qty * 2 + 1) AS max_value FROM px""",
        "layer_unique_counts": PX_CTE
        + f"""SELECT value, SUM(n)::BIGINT AS n FROM (
                SELECT qty % 5 AS value, COUNT(*) AS n FROM px GROUP BY 1
                UNION ALL
                SELECT 0.0 AS value, {pad} AS n WHERE {pad} > 0
              ) GROUP BY value""",
        "layer_extent_sum": PX_CTE
        + """SELECT (SELECT SUM(qty) + SUM(price) FROM px) AS union_sum,
                    (SELECT SUM(CASE WHEN (i // 256) >= 5 AND (i // 256) < 20
                                      AND (i % 256) >= 30 AND (i % 256) < 200
                                     THEN qty ELSE 0 END) FROM px) AS intersect_sum""",
        "layer_conv2d_sum": PX_CTE
        + f"""SELECT SUM(qty
                * (least((i // 256) + 1, {h} - 1) - greatest((i // 256) - 1, 0) + 1)
                * (least((i % 256) + 1, 255) - greatest((i % 256) - 1, 0) + 1)
              ) AS sum_value FROM px""",
        # Pad correction 2 = ((0 & 3) | 1) << 1 at the zero-filled pixels.
        "layer_intops_sum": PX_CTE
        + f"""SELECT CAST(SUM(((CAST(qty AS BIGINT) & 3) | 1) * 2
                + floor(price / 7) + (qty % 3)
                + CASE WHEN qty > 40 OR (elev > 500 AND hab < 10)
                       THEN 1 ELSE 0 END)
                + {pad} * 2 AS DOUBLE) AS sum_value FROM px""",
        "layer_mosaic_sum": PX_CTE
        + f"""SELECT SUM(qty)
                + SUM(CASE WHEN (i // 256) + 64 >= {h} OR (i % 256) + 32 >= 256
                           THEN price ELSE 0 END) AS sum_value FROM px""",
        "layer_reproject_sum": PX_CTE + "SELECT SUM(qty) AS sum_value FROM px",
        "layer_reproject_nearest_sum": PX_CTE
        + f"""SELECT
               (SELECT CAST(SUM(COALESCE(qty, 0)) AS DOUBLE)
                FROM (SELECT (6 * r.range + 3) // 4 AS si,
                             (6 * c.range + 3) // 4 AS sj
                      FROM range(0, 80) r, range(0, 160) c) t
                LEFT JOIN px ON px.i = t.si * 256 + t.sj) AS sum_value,
               -- epsg:3395 leg: term-for-term mirror of the ellipsoidal
               -- Mercator forward (a*rad(lng); a*(atanh(s)-e*atanh(e*s)))
               (SELECT CAST(SUM(COALESCE(qty, 0)) AS DOUBLE)
                FROM (
                  SELECT CAST(floor({MERC_A!r} * radians(0.6 + (c.range + 0.5) * 0.03)
                                    / 5000.0) AS BIGINT) AS si,
                         CAST(floor((10000000.0 - {MERC_A!r} * (
                             0.5 * ln((1 + sin(radians(66.0 - (r.range + 0.5) * 0.03)))
                                    / (1 - sin(radians(66.0 - (r.range + 0.5) * 0.03))))
                             - {MERC_E!r} * 0.5 * ln(
                                 (1 + {MERC_E!r} * sin(radians(66.0 - (r.range + 0.5) * 0.03)))
                               / (1 - {MERC_E!r} * sin(radians(66.0 - (r.range + 0.5) * 0.03))))
                         )) / 5000.0) AS BIGINT) AS sj
                  FROM range(0, 50) r, range(0, 300) c
                ) t
                LEFT JOIN px ON px.i = t.sj * 256 + t.si
                WHERE t.si >= 0 AND t.si < 240 AND t.sj >= 0 AND t.sj < 120
               ) AS sum_value_3395""",
        # Pad correction 1 = round(ln(1)*1000) + 0^2 + 2^0 at zero pixels.
        "layer_math_sum": PX_CTE
        + f"""SELECT SUM(round(ln(qty + 1) * 1000) + pow(qty, 2) + pow(2, qty % 8))
                + {pad} * 1.0 AS sum_value FROM px""",
        "layer_uniform_sum": PX_CTE
        + "SELECT SUM(qty * ((i // 256) + 1)) AS sum_value FROM px",
        "layer_area_raster_sum": PX_CTE
        + f"""SELECT SUM(CASE WHEN {mask}
                             THEN round({area_pixel_sql(AREA_LAT_CENTER_SQL)})
                             ELSE 0 END) AS sum_value FROM px""",
        "layer_tiled_mosaic_sum": PX_CTE + "SELECT SUM(qty) AS sum_value FROM px",
        "layer_nary_sum": PX_CTE
        + """SELECT SUM((qty + elev + hab)
                * CASE WHEN qty > 45 OR elev > 900 THEN 1 ELSE 0 END)
              AS sum_value FROM px""",
        "layer_from_array_sum": PX_CTE
        + "SELECT SUM(qty * i) AS sum_value FROM px",
        "layer_read_array_window": PX_CTE
        + """SELECT SUM(qty * 2 + 1) AS sum_value FROM px
             WHERE (i // 256) BETWEEN 3 AND 9 AND (i % 256) BETWEEN 17 AND 99""",
        "layer_multiband_sum": PX_CTE
        + "SELECT SUM(qty * hab) AS sum_value FROM px",
        "layer_pixel_coords_roundtrip":
            "SELECT CAST(4 AS BIGINT) AS n_probes, CAST(0 AS BIGINT) AS n_mismatch",
        "layer_vector_mask_sum": PX_CTE
        + f"""SELECT SUM(CASE WHEN ({mask}) AND (
                    ((i // 256) BETWEEN 2 AND 9 AND (i % 256) BETWEEN 5 AND 39)
                 OR ((i // 256) BETWEEN 12 AND 17 AND (i % 256) BETWEEN 80 AND 119))
                 THEN qty ELSE 0 END) AS sum_value FROM px""",
        "layer_cell_mask_sum": PX_CTE
        + """SELECT SUM(CASE WHEN ((i % 256) + 0.5) * 0.01 < 1.40625
                              AND -(((i // 256) + 0.5) * 0.01) > -1.40625
                             THEN qty ELSE 0 END) AS sum_value FROM px""",
        "events_sessionize": """
            SELECT user_id, COUNT(*) AS n_events,
                   CAST(SUM(new_sess) AS BIGINT) AS n_sessions
            FROM (
                SELECT user_id,
                       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM (
                    SELECT user_id, ts,
                           LAG(ts) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id
                           ) AS prev
                    FROM events
                )
            ) GROUP BY user_id
        """,
        "doc_dedup_best_of_group": f"""
            SELECT doc_id, fp, q FROM (
                SELECT doc_id, fp, q, row_number() OVER (
                    PARTITION BY fp ORDER BY q DESC, doc_id ASC
                ) AS rn
                FROM (
                    SELECT doc_id,
                           {quality.fingerprint_sql("text")} AS fp,
                           {quality.quality_score_sql("text")} AS q
                    FROM documents
                )
            ) WHERE rn = 1
        """,
        "doc_dsir_select": f"""
            WITH w AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id, lang,
                       CASE WHEN len(w) >= 2 THEN list_transform(
                                generate_series(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1])
                            WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                            ELSE [] END AS g
                FROM w
            ), db AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(ug), 1, 15))::BIGINT
                           % {_DSIR_BUCKETS} AS bucket
                FROM grams, unnest(g) AS t(ug)
            ), tm AS (
                SELECT bucket, COUNT(*) AS tc FROM db
                WHERE lang = 'en' GROUP BY bucket
            ), rm AS (
                SELECT bucket, COUNT(*) AS rc FROM db GROUP BY bucket
            ), dens AS (
                SELECT (SELECT COALESCE(SUM(tc), 0) FROM tm)
                           + {_DSIR_ADD_K} * {_DSIR_BUCKETS} AS t_den,
                       (SELECT COALESCE(SUM(rc), 0) FROM rm)
                           + {_DSIR_ADD_K} * {_DSIR_BUCKETS} AS r_den
            ), weights AS (
                SELECT db.doc_id,
                       SUM(ln((COALESCE(tm.tc, 0) + {_DSIR_ADD_K})
                              / (SELECT t_den FROM dens))
                           - ln((COALESCE(rm.rc, 0) + {_DSIR_ADD_K})
                                / (SELECT r_den FROM dens))) AS lw
                FROM db
                LEFT JOIN tm ON db.bucket = tm.bucket
                LEFT JOIN rm ON db.bucket = rm.bucket
                GROUP BY db.doc_id
            ), keyed AS (
                SELECT doc_id,
                       lw - ln(-ln(
                           ('0x' || substr(md5(doc_id::VARCHAR
                                || ' ' || '{_DSIR_SEED}'), 1, 16))::UBIGINT
                           / 18446744073709551616.0)) AS gk
                FROM weights
            )
            SELECT k.doc_id, d.lang
            FROM (SELECT doc_id FROM keyed
                  ORDER BY gk DESC, doc_id ASC LIMIT {_DSIR_K}) k
            JOIN documents d ON k.doc_id = d.doc_id
        """,
        "orders_customer_join": """
            SELECT n_name, COUNT(*) AS n_orders,
                   SUM(floor(o_totalprice)) AS rev_floor
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "doc_text_features": (
            "SELECT doc_id, "
            + quality.token_count_sql("text")
            + " AS n_tokens, "
            + quality.fingerprint_sql("text")
            + " AS fp, "
            + quality.quality_score_sql("text")
            + " AS q, (('0x' || substr(md5(doc_id || ' ' || 3), 1, 16))::UBIGINT"
            + " / 18446744073709551616.0 < 0.25) AS in_sample_25"
            + " FROM documents"
        ),
        "doc_curate_corpus": _curate_oracle_sql(),
        # The LSH path must reproduce the brute-force pair set exactly
        # (precision is exact by construction; recall engineered > 1 - 1e-6
        # per pair at this threshold), so it shares the brute-force oracle.
        "emb_cosine_near_dup_lsh": ann.cosine_near_dup_pairs_sql(0.42),
        "doc_dedup_components": """
            WITH RECURSIVE  d AS (
                SELECT doc_id,
                       list_filter(string_split(lower(text), ' '),
                                   x -> x <> '') AS w
                FROM documents
            ), wh AS (
                SELECT doc_id, md5_number_upper(uw) AS h
                FROM d, unnest(w) AS t(uw)
            ), votes AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM wh, range(64) AS r(b)
                GROUP BY doc_id, b
            ), code_u AS (
                SELECT doc_id,
                       SUM(CASE WHEN v > 0
                                THEN (1::HUGEINT << b::INTEGER) ELSE 0 END) AS cu
                FROM votes GROUP BY doc_id
            ), codes AS (
                SELECT d.doc_id,
                       CAST(CASE WHEN COALESCE(cu, 0) >= 9223372036854775808
                                 THEN COALESCE(cu, 0) - 18446744073709551616
                                 ELSE COALESCE(cu, 0) END AS BIGINT) AS sh
                FROM d LEFT JOIN code_u USING (doc_id)
            ),
            prs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM codes a JOIN codes b ON b.doc_id > a.doc_id
                WHERE bit_count(xor(a.sh, b.sh)) <= 7
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM prs
                UNION SELECT id_b, id_a FROM prs
            ),
            reach(id, comp) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.comp FROM edges e JOIN reach r ON r.id = e.b
            )
            SELECT id, MIN(comp) AS component FROM reach GROUP BY id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   SUM(l_quantity) AS sum_qty,
                   SUM(floor(l_extendedprice)) AS sum_price_floor
            FROM lineitem GROUP BY 1, 2
        """,
        "spatial_cell_assign": (
            f"SELECT c_custkey, {cell_assign_sql(RES)} AS cell FROM ({POINTS_SQL})"
        ),
        "spatial_pip_table": f"""
            WITH pts AS ({POINTS_SQL})
            SELECT c_custkey, CAST(r_regionkey AS BIGINT) AS poly_id
            FROM pts, region
            WHERE lat >= r_regionkey * 20 - 50 AND lat < r_regionkey * 20 - 20
              AND lng >= r_regionkey * 60 - 150 AND lng < r_regionkey * 60 - 110
        """,
        "spatial_knn": f"""
            WITH pts AS ({POINTS_SQL}),
            q AS (SELECT CAST(1 AS BIGINT) AS query_id, 40.25 AS qlat, -74.25 AS qlng
                  UNION ALL SELECT CAST(2 AS BIGINT), -10.75, 20.25),
            scored AS (
                SELECT q.query_id, pts.c_custkey,
                       2 * 6371008.8 * asin(sqrt(
                           pow(sin(radians(pts.lat - q.qlat) / 2), 2)
                           + cos(radians(q.qlat)) * cos(radians(pts.lat))
                           * pow(sin(radians(pts.lng - q.qlng) / 2), 2)
                       )) AS dist_m
                FROM pts CROSS JOIN q
            )
            SELECT query_id, c_custkey, CAST(round(dist_m) AS BIGINT) AS dist_round_m
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY dist_m ASC, c_custkey ASC
                ) AS rn FROM scored
            ) WHERE rn <= 5
        """,
        "spatial_knn_table": f"""
            WITH pts AS ({POINTS_SQL}),
            q AS (SELECT CAST(n_nationkey AS BIGINT) AS query_id,
                         CAST((n_nationkey * 7) % 160 - 80 + 0.5 AS DOUBLE) AS qlat,
                         CAST((n_nationkey * 13) % 360 - 180 + 0.5 AS DOUBLE) AS qlng
                  FROM nation),
            scored AS (
                SELECT q.query_id, pts.c_custkey,
                       2 * 6371008.8 * asin(sqrt(
                           pow(sin(radians(pts.lat - q.qlat) / 2), 2)
                           + cos(radians(q.qlat)) * cos(radians(pts.lat))
                           * pow(sin(radians(pts.lng - q.qlng) / 2), 2)
                       )) AS dist_m
                FROM pts CROSS JOIN q
            )
            SELECT query_id, c_custkey, CAST(round(dist_m) AS BIGINT) AS dist_round_m
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY dist_m ASC, c_custkey ASC
                ) AS rn FROM scored
            ) WHERE rn <= 3
        """,
        "pages_extract_invariant": "SELECT CAST(20000 AS BIGINT) AS n_pages, CAST(0 AS BIGINT) AS n_mismatch",
        "doc_langid": (
            "SELECT guess, COUNT(*) AS n FROM (SELECT "
            + quality.language_id_sql("text")
            + " AS guess FROM documents) GROUP BY guess"
        ),
        "streaming_ingest": (
            "SELECT CAST(3000 AS BIGINT) AS n_rows,"
            " CAST(0 AS BIGINT) AS n_extract_mismatch,"
            " CAST(0 AS BIGINT) AS second_run_delta"
        ),
        "lineage_resume": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM("
            + quality.token_count_sql("text")
            + ") AS BIGINT) AS total_tokens, CAST(2 AS BIGINT) AS pre_done,"
            " CAST(1 AS BIGINT) AS resumed_only_missing FROM documents"
        ),
        "doc_quality_filter": f"""
            SELECT doc_id, q, n_tokens, lang FROM (
                SELECT doc_id,
                       {quality.quality_score_sql("text")} AS q,
                       {quality.token_count_sql("text")} AS n_tokens,
                       {quality.language_id_sql("text")} AS lang
                FROM documents
            ) WHERE q >= 0.3 AND lang = 'en' AND n_tokens >= 20
        """,
        # Within-doc line dedup: a line survives iff list_position finds it
        # first at its own (1-based) index — the exact mirror of the Spark
        # array_position filter.
        "doc_line_dedup": _MULTILINE_CTE + """
            SELECT doc_id,
                   array_to_string(
                       list_filter(
                           string_split(text, chr(10)),
                           (l, i) -> list_position(string_split(text, chr(10)), l) = i
                       ), chr(10)) AS text
            FROM mdocs
        """,
        "doc_c4_clean": """
            WITH synth AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                           substring(text, 1, 40) || ' first sentence here.',
                           'Enable javascript to view this page.',
                           substring(text, 50, 40) || ' and more words here!',
                           substring(text, 200, 25) || ' tail.',
                           substring(text, 20, 30),
                           CASE WHEN doc_id % 11 = 0
                                THEN 'code { example } block with braces here.' END,
                           CASE WHEN doc_id % 13 = 0
                                THEN 'lorem ipsum dolor sit amet consectetur.' END
                       ) AS text
                FROM documents
            ),
            linef AS (
                SELECT doc_id,
                       array_to_string(
                           list_filter(
                               string_split(text, chr(10)),
                               l -> regexp_matches(trim(l), '[.!?"]$')
                                    AND len(list_filter(
                                            string_split_regex(trim(l), '\\s+'),
                                            w -> w <> '')) >= 5
                                    AND NOT contains(lower(l), 'javascript')
                           ), chr(10)) AS text
                FROM synth
            )
            -- Sentence count: the cleaned text never ends in whitespace, so
            -- Spark's split-on-(?<=[.!?])\\s+ segment count equals
            -- (count of [.!?]\\s+ matches) + 1, with every segment non-blank
            -- by construction (RE2 has no lookbehind, hence the count form).
            SELECT doc_id, text FROM linef
            WHERE len(regexp_extract_all(text, '[.!?]\\s+'))
                  + (CASE WHEN length(text) > 0 THEN 1 ELSE 0 END) >= 3
              AND NOT contains(lower(text), 'lorem ipsum')
              AND NOT contains(text, '{')
        """,
        "doc_gopher_signals": """
            WITH synth AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                           text,
                           '- bullet list item',
                           substring(text, 1, 48),
                           substring(text, 1, 48),
                           '### sym ' || substring(text, 10, 20) || ' ...'
                       ) || chr(10) || chr(10) || 'shared dup paragraph'
                         || chr(10) || chr(10) || 'shared dup paragraph' AS text
                FROM documents
            ),
            base AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'),
                                   w -> w <> '') AS words,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   w -> w <> '') AS words_lower,
                       list_filter(string_split(text, chr(10)),
                                   l -> length(trim(l)) > 0) AS lines,
                       list_filter(string_split_regex(text, chr(10) || chr(10)),
                                   l -> length(trim(l)) > 0) AS paras
                FROM synth
            ),
            nz AS (
                SELECT *,
                       CASE WHEN len(words) > 0
                            THEN CAST(len(words) AS DOUBLE) ELSE 1.0 END AS nw,
                       CASE WHEN len(lines) > 0
                            THEN CAST(len(lines) AS DOUBLE) ELSE 1.0 END AS nl,
                       CASE WHEN len(paras) > 0
                            THEN CAST(len(paras) AS DOUBLE) ELSE 1.0 END AS np
                FROM base
            )
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(coalesce(list_sum(list_transform(words,
                        w -> length(w))), 0) AS DOUBLE) / nw AS mean_word_len,
                   CAST((length(text) - length(replace(text, '#', ''))) / 1
                        + (length(text) - length(replace(text, '...', ''))) / 3
                        + (length(text) - length(replace(text, '…', ''))) / 1
                        AS DOUBLE) / nw AS symbol_word_ratio,
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(trim(l), '^[-*•●▪]')))
                        AS DOUBLE) / nl AS frac_bullet_lines,
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                        AS DOUBLE) / nl AS frac_ellipsis_lines,
                   CAST(len(list_filter(words,
                        w -> regexp_matches(w, '[A-Za-z]')))
                        AS DOUBLE) / nw AS frac_alpha_words,
                   CAST(len(list_filter(
                        ['the','be','to','of','and','that','have','with'],
                        s -> list_contains(words_lower, s)))
                        AS BIGINT) AS n_stop_hits,
                   CASE WHEN len(lines) > 0 THEN
                        CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                        / len(lines) ELSE 0.0 END AS frac_dup_lines,
                   CASE WHEN coalesce(list_sum(list_transform(lines,
                             l -> length(l))), 0) > 0 THEN
                        CAST(coalesce(list_sum(list_transform(
                                 list_distinct(lines),
                                 d -> (len(list_filter(lines, l -> l = d)) - 1)
                                      * length(d))), 0) AS DOUBLE)
                        / coalesce(list_sum(list_transform(lines,
                                 l -> length(l))), 0)
                        ELSE 0.0 END AS frac_dup_line_chars,
                   CASE WHEN len(paras) > 0 THEN
                        CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE)
                        / len(paras) ELSE 0.0 END AS frac_dup_paras,
                   CASE WHEN coalesce(list_sum(list_transform(paras,
                             p -> length(p))), 0) > 0 THEN
                        CAST(coalesce(list_sum(list_transform(
                                 list_distinct(paras),
                                 d -> (len(list_filter(paras, p -> p = d)) - 1)
                                      * length(d))), 0) AS DOUBLE)
                        / coalesce(list_sum(list_transform(paras,
                                 p -> length(p))), 0)
                        ELSE 0.0 END AS frac_dup_para_chars
            FROM nz
        """,
        "ann_topk_multi": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 5
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(
                           list_reduce(list_transform(
                               list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
                               x -> x[1] * x[2]), (acc, x) -> acc + x)
                           / (sqrt(list_reduce(list_transform(
                                  CAST(e.embedding AS DOUBLE[]), x -> x * x),
                                  (acc, x) -> acc + x))
                              * sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                                  (acc, x) -> acc + x))), 6) AS sim
                FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, sim, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 5
        """,
        "adaptive_cells": (
            "SELECT CAST(20000 AS BIGINT) AS total,"
            " CAST(0 AS BIGINT) AS n_key_mismatch,"
            " CAST(0 AS BIGINT) AS n_over_below_max_depth"
        ),
        "doc_minhash_pairs": """
            WITH d AS (
                SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                                generate_series(1, len(w) - 2),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                            WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                            ELSE [] END AS s
                FROM d
            ), p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
                FROM sh a JOIN sh b ON b.doc_id > a.doc_id
            )
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b,
                       CASE WHEN len(list_distinct(list_concat(sa, sb))) = 0
                            THEN 1.0
                            ELSE len(list_intersect(sa, sb)) * 1.0
                                 / len(list_distinct(list_concat(sa, sb)))
                       END AS jaccard
                FROM p
            ) WHERE jaccard >= 0.8
        """,
        "doc_simhash_pairs": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split(lower(text), ' '),
                                   x -> x <> '') AS w
                FROM documents
            ), wh AS (
                SELECT doc_id, md5_number_upper(uw) AS h
                FROM d, unnest(w) AS t(uw)
            ), votes AS (
                SELECT doc_id, b,
                       SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM wh, range(64) AS r(b)
                GROUP BY doc_id, b
            ), code_u AS (
                SELECT doc_id,
                       SUM(CASE WHEN v > 0
                                THEN (1::HUGEINT << b::INTEGER) ELSE 0 END) AS cu
                FROM votes GROUP BY doc_id
            ), codes AS (
                SELECT d.doc_id,
                       CAST(CASE WHEN COALESCE(cu, 0) >= 9223372036854775808
                                 THEN COALESCE(cu, 0) - 18446744073709551616
                                 ELSE COALESCE(cu, 0) END AS BIGINT) AS sh
                FROM d LEFT JOIN code_u USING (doc_id)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM codes a JOIN codes b ON b.doc_id > a.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 7
        """,
        "ann_topk_lsh": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            ),
            scored AS (
                SELECT e.vec_id,
                       list_reduce(list_transform(
                           list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
                           x -> x[1] * x[2]), (acc, x) -> acc + x)
                       / (sqrt(list_reduce(list_transform(
                              CAST(e.embedding AS DOUBLE[]), x -> x * x),
                              (acc, x) -> acc + x))
                          * sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                              (acc, x) -> acc + x))) AS sim
                FROM embeddings e CROSS JOIN q
            )
            SELECT vec_id, rank FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY sim DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        # multimodal_features: the CODEC is honestly stubbed (no image
        # library in this environment) — but the registered query runs the
        # deterministic fake decode, whose arithmetic is fully mirrored in
        # SQL, so even this pipeline gets an exact correctness row.  A real
        # codec would return this entry to rows-only.
        "multimodal_features": _multimodal_oracle_sql(500, 42),
    }
