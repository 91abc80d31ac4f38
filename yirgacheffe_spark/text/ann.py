"""Similarity search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k: the query set broadcasts, the
  corpus streams once, scoring is sequential-fold column algebra
  (``zip_with`` + ``aggregate`` in float64, matching DuckDB's list functions
  term-for-term so the SQL oracle is bit-comparable), and per-query top-k is
  one window rank.  This is the baseline and the verifier.
* ``lsh_topk`` — the scale path: random-hyperplane LSH buckets the corpus;
  a query only scores candidates sharing a bucket in any table.  Recall is
  tunable via (tables, bits); exactness is *not* claimed — the brute-force
  pass is the oracle in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window as W

from .._worker import task_entry
from .dedup import _bucket_pairs


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_sim(a, b):
    """Sequential-fold cosine over two array columns (float64)."""
    a64 = F.transform(a, lambda x: x.cast("double"))
    b64 = F.transform(b, lambda x: x.cast("double"))
    return _dot(a64, b64) / (F.sqrt(_dot(a64, a64)) * F.sqrt(_dot(b64, b64)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the query set, score every corpus row
    (one scan, no shuffle except the final per-query rank)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
    )
    scored = corpus.crossJoin(q).select(
        query_id_col,
        id_col,
        F.round(cosine_sim(F.col(vec_col), F.col("_qvec")), 6).alias("sim"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
        ),
    )
    return ranked.where(F.col("rank") <= k).select(query_id_col, id_col, "sim", "rank")


def brute_force_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k, numpy-batched: the (dim-sized) query set is
    collected, L2-normalised and broadcast as one matrix; every Arrow batch
    of the corpus scores with a single matmul and emits only its LOCAL
    per-query top-k (any row outside a batch's top-k is dominated by k
    better rows and cannot reach the global top-k), then one window rank
    merges ~k * n_batches rows per query.

    Results equal ``brute_force_topk`` (same rounded-sim ordering, same id
    tie-break); only the float summation order differs (BLAS matmul vs
    sequential fold), which the 6-dp rounding absorbs except at 1e-16-scale
    round boundaries.  ~40x less per-row work than the fold expression —
    this is the production scorer; the fold variant exists to mirror the
    DuckDB oracle term-for-term."""
    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in q_rows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat))
    qid_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(corpus.dtypes)[id_col]

    @task_entry
    def gen(batches):
        qids_, qn = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ qn.T, 6)  # (batch, nq)
            ids = pdf[id_col].to_numpy()
            k_eff = min(k, sims.shape[0])
            out_q, out_id, out_s = [], [], []
            for j in range(nq):
                # Batch-local top-k under the FINAL ordering (sim desc, id asc).
                order = np.lexsort((ids, -sims[:, j]))[:k_eff]
                out_q.extend([qids_[j]] * k_eff)
                out_id.extend(ids[order])
                out_s.extend(sims[order, j])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_id, "sim": out_s}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{query_id_col} {qid_type}, {id_col} {id_type}, sim double"
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
        ),
    )
    return ranked.where(F.col("rank") <= k).select(query_id_col, id_col, "sim", "rank")


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-space near-duplicate pairs: all (id_a < id_b) with
    round(cosine, 6) >= threshold.  Brute-force baseline (broadcast nested
    loop — one scan of the big side); the scale path buckets with
    random-hyperplane LSH first (``lsh_topk``'s hashing) and verifies only
    bucket-mates.  Thresholding on the ROUNDED similarity keeps the pair set
    reproducible across engines/fold orders."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6)
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def cosine_near_dup_pairs_sql(threshold: float, table: str = "embeddings") -> str:
    """DuckDB oracle for ``cosine_near_dup_pairs`` (mirrors the sequential
    fold of the Spark expression; see ``brute_force_topk_sql``)."""
    def fold(expr_a, expr_b=None):
        if expr_b is None:
            return (f"list_reduce(list_transform({expr_a}, x -> x * x), "
                    f"(acc, x) -> acc + x)")
        return (f"list_reduce(list_transform(list_zip({expr_a}, {expr_b}), "
                f"x -> x[1] * x[2]), (acc, x) -> acc + x)")

    va, vb = "CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])"
    sim = f"round(({fold(va, vb)}) / (sqrt({fold(va)}) * sqrt({fold(vb)})), 6)"
    return f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sim} AS sim
        FROM {table} a, {table} b
        WHERE a.vec_id < b.vec_id AND {sim} >= {threshold}
    """


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim))


def lsh_bucket_udf(bits: int, tables: int, seed: int = 42):
    """Random-hyperplane bucket UDF: one ``array<long>`` of per-table bucket
    ids per vector.  Hyperplanes are derived lazily from the batch's own
    vector width — deterministic per (seed, bits, tables, dim), so every
    worker regenerates identical planes and no driver round trip (no
    ``.first()`` to fetch the dimension) is needed."""

    @pandas_udf("array<long>")
    @task_entry
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy())  # (n, dim)
        planes = _hyperplanes(mat.shape[1], bits, tables, seed)
        signs = np.einsum("tbd,nd->ntb", planes, mat) > 0  # (n, tables, bits)
        codes = (signs.astype(np.int64) << np.arange(bits, dtype=np.int64)).sum(axis=2)
        return pd.Series([row.tolist() for row in codes])

    return buckets


def cosine_near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    bits: int = 8,
    tables: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 4096,
) -> DataFrame:
    """The production near-dup path: random-hyperplane LSH buckets, each
    (table, bucket) of 2..``max_bucket`` members expanded to candidate
    pairs by ``dedup._bucket_pairs`` (never a self-join, never a
    crossJoin), then exact rounded cosine on candidates only.

    Precision is exact (candidates are verified with the same fold-order
    cosine as ``cosine_near_dup_pairs``); recall is tunable — at the default
    (bits=8, tables=32) a pair at cosine 0.9 collides in some table with
    probability > 1 - 2e-5, so on test corpora the output matches the
    brute-force oracle exactly."""
    bucketer = lsh_bucket_udf(bits, tables, seed)
    vec64 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    banded = emb.select(
        F.col(id_col), F.posexplode(bucketer(vec64)).alias("table", "bucket")
    )
    cands = _bucket_pairs(banded, ["table", "bucket"], F.col(id_col),
                          "struct(a AS id_a, b AS id_b)", max_bucket)
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    sim = F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def lsh_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucketing, bucket-equality join,
    exact cosine on candidates only.  The bucketer derives hyperplanes from
    the vectors themselves, so no driver round trip fetches the dimension."""
    bucketer = lsh_bucket_udf(bits, tables, seed)

    c = corpus.withColumn("_b", bucketer(F.transform(F.col(vec_col), lambda x: x.cast("double"))))
    q = queries.withColumn("_b", bucketer(F.transform(F.col(vec_col), lambda x: x.cast("double"))))

    c_flat = c.select(
        id_col, vec_col, F.posexplode("_b").alias("table", "bucket")
    )
    q_flat = F.broadcast(
        q.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.posexplode("_b").alias("table", "bucket"),
        )
    )
    cands = (
        c_flat.join(q_flat, ["table", "bucket"], "inner")
        .select(query_id_col, id_col, vec_col, "_qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col,
        id_col,
        F.round(cosine_sim(F.col(vec_col), F.col("_qvec")), 6).alias("sim"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
        ),
    )
    return ranked.where(F.col("rank") <= k).select(query_id_col, id_col, "sim", "rank")


def brute_force_topk_sql(k: int, query_vec_sql: str, table: str = "embeddings") -> str:
    """DuckDB oracle for ``brute_force_topk`` against one literal query vector
    (sequential-fold arithmetic mirroring the Spark expression)."""
    dot = f"list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), {query_vec_sql}), x -> x[1] * x[2]))"
    # list_sum may reorder; build an explicit sequential fold instead via
    # list_reduce (DuckDB >= 1.0) to match Spark's aggregate().
    dot = (
        f"list_reduce(list_transform(list_zip(CAST(embedding AS DOUBLE[]), {query_vec_sql}),"
        f" x -> x[1] * x[2]), (acc, x) -> acc + x)"
    )
    norm_c = "list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)"
    norm_q = f"list_reduce(list_transform({query_vec_sql}, x -> x * x), (acc, x) -> acc + x)"
    sim = f"round(({dot}) / (sqrt({norm_c}) * sqrt({norm_q})), 6)"
    # Rank on the ROUNDED similarity (ties broken by id) so both engines
    # order identically even when raw doubles differ in the last ulp.
    return f"""
        SELECT vec_id, sim, rank FROM (
            SELECT vec_id, {sim} AS sim,
                   row_number() OVER (ORDER BY {sim} DESC, vec_id ASC) AS rank
            FROM {table}
        ) WHERE rank <= {k}
    """


# -- IVF (inverted-file) ANN --------------------------------------------------

def ivf_train_centroids(
    corpus: DataFrame,
    n_lists: int = 64,
    sample: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: spherical k-means (Lloyd's on L2-normalised
    vectors, cosine assignment) over a DETERMINISTIC sample (the ``sample``
    lowest ids — reproducible across runs and engines, unlike RDD sampling).
    Returns the (n_lists, dim) L2-normalised centroid matrix.

    At 100 TB the sample collect is a constant few MB and training is a
    driver-side numpy loop; only assignment (one scan) is distributed."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_lists, len(mat))
    centroids = mat[rng.choice(len(mat), size=k, replace=False)]
    for _ in range(iters):
        sims = mat @ centroids.T
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.sum(axis=0)
        centroids /= np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
    return centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``list_id`` = argmax-cosine centroid per row (one Arrow-batched
    scan, broadcast centroid matrix — the IVF index build)."""
    bc = corpus.sparkSession.sparkContext.broadcast(centroids)

    @pandas_udf("int")
    @task_entry
    def assign(vecs: pd.Series) -> pd.Series:
        cents = bc.value
        if not len(vecs):
            return pd.Series([], dtype="int32")
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    return corpus.withColumn("list_id", assign(F.col(vec_col)))


def ivf_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` nearest inverted
    lists per query (~n_probe/n_lists of the corpus) with the exact
    numpy-matmul re-ranker.  The scale path for corpora too large for
    brute force: index build is one scan (store the ``list_id`` column in
    the table to amortise it), search touches a corpus fraction.

    Exactness contract: results are exact whenever every true top-k
    neighbour lives in a probed list (guaranteed recall only at
    n_probe = n_lists); the recall/cost trade is the standard IVF knob."""
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_lists=n_lists, id_col=id_col, vec_col=vec_col
        )
    assigned = (
        corpus if "list_id" in corpus.columns else ivf_assign(corpus, centroids, vec_col)
    )

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in q_rows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    probe_lists = np.argsort(-(qmat @ centroids.T), axis=1)[:, : min(n_probe, len(centroids))]
    pairs = [
        (qid, int(lid)) for qid, row in zip(qids, probe_lists) for lid in row
    ]
    qid_type = dict(queries.dtypes)[query_id_col]
    probe_df = spark.createDataFrame(
        pairs, schema=f"{query_id_col} {qid_type}, list_id int"
    )
    # Candidate generation is a broadcast equi-join on list_id; the exact
    # re-rank reuses the batch-local top-k matmul trick over candidates.
    cand = assigned.join(F.broadcast(probe_df), "list_id", "inner").where(
        F.col(query_id_col).isNotNull()
    )
    bc = spark.sparkContext.broadcast({qid: qmat[i] for i, qid in enumerate(qids)})
    id_type = dict(corpus.dtypes)[id_col]

    @task_entry
    def gen(batches):
        qvecs = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            # Group by query via ONE factorize + stable argsort: per-group
            # slices are contiguous, so total work is O(batch), not the
            # O(n_queries x batch) of a boolean mask per query id.
            codes, uniq = pd.factorize(pdf[query_id_col])
            grp_order = np.argsort(codes, kind="stable")
            codes_sorted = codes[grp_order]
            bounds = np.searchsorted(codes_sorted, np.arange(len(uniq) + 1))
            mat_all = np.stack(pdf[vec_col].to_numpy()[grp_order]).astype(np.float64)
            mat_all /= np.maximum(
                np.linalg.norm(mat_all, axis=1, keepdims=True), 1e-12
            )
            ids_all = pdf[id_col].to_numpy()[grp_order]
            out_q, out_id, out_s = [], [], []
            for gi, qid in enumerate(uniq):
                s, e = bounds[gi], bounds[gi + 1]
                sims = np.round(mat_all[s:e] @ qvecs[qid], 6)
                ids = ids_all[s:e]
                k_eff = min(k, e - s)
                order = np.lexsort((ids, -sims))[:k_eff]
                out_q.extend([qid] * k_eff)
                out_id.extend(ids[order])
                out_s.extend(sims[order])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_id, "sim": out_s})

    scored = cand.select(query_id_col, id_col, vec_col).mapInPandas(
        gen, schema=f"{query_id_col} {qid_type}, {id_col} {id_type}, sim double"
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
        ),
    )
    return ranked.where(F.col("rank") <= k).select(query_id_col, id_col, "sim", "rank")


# -- SemDeDup: cluster-bounded semantic deduplication --------------------------


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    chunk: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop embedding rows that are
    semantically near-duplicate within their k-means cluster.

    Pinned rule (order-free, matching the engine's keep-lowest-id dedup
    convention): a row is DROPPED iff its cluster contains another row
    with a smaller id whose cosine similarity is >= ``threshold``.  Pairs
    across cluster boundaries are never compared — the SemDeDup trade:
    clustering bounds the quadratic pairwise cost to per-cluster blocks
    at a small recall loss on boundary-straddling duplicates (lower
    ``n_lists`` to trade cost for recall).

    Plan: centroid training is a deterministic-sample driver loop
    (``ivf_train_centroids``), assignment one broadcast Arrow scan, and
    the prune one ``applyInPandas`` per cluster — similarities computed
    in ``chunk``-row blocks against all earlier rows, so task memory is
    O(chunk x cluster) while the (inherent) within-cluster flops stay
    quadratic.  No driver rows beyond the centroid sample.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    cents = centroids if centroids is not None else ivf_train_centroids(
        emb, n_lists=n_lists, id_col=id_col, vec_col=vec_col
    )
    assigned = ivf_assign(emb, cents, vec_col)
    schema = assigned.drop("list_id").schema

    @task_entry
    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) <= 1:
            return pdf.drop(columns=["list_id"])
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        n = len(mat)
        drop = np.zeros(n, dtype=bool)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            # vs all earlier rows (ids ascending: smaller-id neighbours)
            if lo:
                sims = mat[lo:hi] @ mat[:lo].T
                drop[lo:hi] |= (sims >= threshold).any(axis=1)
            block = mat[lo:hi] @ mat[lo:hi].T
            tri = np.tril(block >= threshold, k=-1)
            drop[lo:hi] |= tri.any(axis=1)
        return pdf.loc[~drop].drop(columns=["list_id"])

    return assigned.groupBy("list_id").applyInPandas(prune, schema=schema)
