"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for scale:

* exact dedup is one hash-groupBy (map-side combine, one shuffle);
* MinHash signatures and their band buckets are computed in one
  Arrow-vectorised pass; the band index is salted into each bucket id, so
  candidates key on ONE long column;
* every banded near-dup operator (MinHash, SimHash bit-chunks, and
  ``ann.cosine_near_dup_pairs_lsh``) expands candidates through one helper,
  ``_bucket_pairs``: count buckets, broadcast the 2..``max_bucket``-member
  key set back, expand pairs per bucket — never a self-join;
* n-gram Jaccard is the exact verifier, shingle-set based, vectorised;
* the measured-side joins (boilerplate hot lines, decontamination eval
  grams) pick broadcast or sort-merge through ``_broadcast_or_merge``.

Nothing here collects the corpus to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .._worker import task_entry


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (lowest id) per identical text."""
    key = F.md5(F.col(text_col))
    return (
        df.withColumn("_k", key)
        .withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("_k").orderBy(F.col(id_col).asc())
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )


def _shingles(text: str, n: int) -> set:
    words = text.lower().split()
    if len(words) < n:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _hash64(values: list[str]) -> np.ndarray:
    return pd.util.hash_pandas_object(
        pd.Series(values, dtype=object), index=False,
        hash_key="yirgacheffespark", categorize=False,
    ).to_numpy(dtype=np.uint64)


_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


_FNV = np.uint64(1099511628211)


def _mix64(z: np.ndarray, salt) -> np.ndarray:
    """splitmix64 finalizer (vectorised, uint64 wraparound intended).
    ``salt`` may be a scalar or an array broadcastable against ``z``."""
    with np.errstate(over="ignore"):
        z = z + np.asarray(salt, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# Persisted-bucket format tag.  Bump whenever the bucket-id derivation
# changes (_fold_buckets fold/salts, _minhash_params, shingle hashing):
# a stored signature index whose bucket ids were computed by an older
# revision would silently yield ZERO candidates against new-batch buckets
# — duplicates admitted with no error — so the incremental path refuses
# mismatched (or unversioned) indexes instead.
MINHASH_SIG_FORMAT = "mh2-bandsalt"


def _fold_buckets(sig_matrix: np.ndarray, bands: int) -> np.ndarray:
    """(n, num_perm) signature matrix -> (n, bands) LSH bucket ids, FNV-fold
    + splitmix finalize per band (vectorised).  The finalizer is salted with
    the BAND INDEX, so a bucket id is globally unique across bands and the
    candidate join keys on one long column instead of (band, bucket) — a
    narrower shuffle and a single-column hash aggregate, which is the
    measured scaling bottleneck of the candidate stage."""
    n, num_perm = sig_matrix.shape
    r = num_perm // bands
    folded = sig_matrix.astype(np.uint64).reshape(n, bands, r)
    with np.errstate(over="ignore"):
        acc = np.zeros((n, bands), dtype=np.uint64)
        for k in range(r):
            acc = acc * _FNV + folded[:, :, k]
    salts = 3 + np.arange(bands, dtype=np.uint64)[None, :]
    return _mix64(acc, salts).astype(np.int64)


def _flat_shingle_hashes(texts: pd.Series, shingle_n: int) -> tuple[np.ndarray, np.ndarray]:
    """Word-n-gram shingle fingerprints for a whole batch at C speed.

    Returns ``(hashes uint64, doc_of_shingle int64)`` as a multiset (not
    per-doc deduped), stably ordered by doc id: ONE hash pass over the
    batch's flattened words, a rolling FNV fold for the n-grams, and the
    reference's short-doc rule (docs with 0 < words < n contribute one
    whole-doc shingle; empty docs contribute none)."""
    from itertools import chain  # pylint: disable=C0415

    n_docs = len(texts)
    words = texts.fillna("").str.lower().str.split()
    lens = words.str.len().to_numpy(dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    wh = _hash64(list(chain.from_iterable(words)))
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    doc_of_word = np.repeat(np.arange(n_docs), lens)
    with np.errstate(over="ignore"):
        n_pos = total - (shingle_n - 1)
        if n_pos > 0:
            acc = np.zeros(n_pos, dtype=np.uint64)
            for k in range(shingle_n):
                acc = acc * _FNV + wh[k : k + n_pos]
            # a shingle is valid iff it does not straddle two documents
            valid = doc_of_word[:n_pos] == doc_of_word[shingle_n - 1 :]
            sh = _mix64(acc[valid], 7) % np.uint64(_MERSENNE)
            doc_of_sh = doc_of_word[:n_pos][valid]
        else:
            sh = np.empty(0, np.uint64)
            doc_of_sh = np.empty(0, np.int64)
        short = np.nonzero((lens > 0) & (lens < shingle_n))[0]
        if len(short):
            extra = np.zeros(len(short), dtype=np.uint64)
            for i, d in enumerate(short):
                accd = np.uint64(0)
                for k in range(starts[d], starts[d + 1]):
                    accd = accd * _FNV + wh[k]
                extra[i] = accd
            sh = np.concatenate([sh, _mix64(extra, 7) % np.uint64(_MERSENNE)])
            doc_of_sh = np.concatenate([doc_of_sh, short])
            order = np.argsort(doc_of_sh, kind="stable")
            sh, doc_of_sh = sh[order], doc_of_sh[order]
    return sh, doc_of_sh


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 64, shingle_n: int = 3, seed: int = 42,
                       bands: int = 8) -> DataFrame:
    """(id, sig: array<long>, buckets: array<long>, sig_format) —
    universal-hash MinHash over word shingles plus the ``bands`` LSH band
    buckets from the same pass (one Python stage total — chained Python
    runners in one Spark stage measured 3-10x slower and erratic).

    Fully batch-vectorised: ONE C-speed hash pass over the batch's flattened
    words, rolling polynomial combine for the n-gram shingle fingerprints,
    then per-doc minima via ``np.minimum.reduceat`` — no per-document Python
    (the previous per-row form measured ~2 ms/doc; this is ~100x less).
    MinHash is min-over-multiset, so shingle de-duplication is unnecessary.
    """
    a_params, b_params = _minhash_params(num_perm, seed)
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")

    def _sig_matrix(texts: pd.Series) -> np.ndarray:
        n_docs = len(texts)
        out = np.zeros((n_docs, num_perm), dtype=np.int64)
        if n_docs == 0:
            return out
        sh, doc_of_sh = _flat_shingle_hashes(texts, shingle_n)
        if len(sh):
            with np.errstate(over="ignore"):
                docs_present, first_idx = np.unique(doc_of_sh, return_index=True)
                # perm blocks bound the (perm x shingle) temporary to ~50 MB
                for p0 in range(0, num_perm, 16):
                    p1 = min(p0 + 16, num_perm)
                    m = (
                        a_params[p0:p1, None] * sh[None, :] + b_params[p0:p1, None]
                    ) % np.uint64(_MERSENNE)
                    out[docs_present, p0:p1] = np.minimum.reduceat(
                        m, first_idx, axis=1
                    ).T.astype(np.int64)
        return out

    @pandas_udf("sig array<long>, buckets array<long>")
    @task_entry
    def sig_and_buckets(texts: pd.Series) -> pd.DataFrame:
        m = _sig_matrix(texts)
        return pd.DataFrame(
            {"sig": list(m), "buckets": list(_fold_buckets(m, bands))}
        )

    return df.select(
        F.col(id_col), sig_and_buckets(F.col(text_col)).alias("sb")
    ).select(
        id_col, "sb.sig", "sb.buckets",
        F.lit(MINHASH_SIG_FORMAT).alias("sig_format"),
    )


def _bucket_pairs(banded: DataFrame, keys: list[str], member, pair: str,
                  max_bucket: int) -> DataFrame:
    """Distinct member pairs sharing a bucket — the one candidate expander
    behind every banded near-dup operator.

    ``banded`` holds one row per (bucket ``keys``, member); ``member`` is
    the column collected per bucket and ``pair`` the SQL struct built from
    two of them, ``a`` (the smaller) and ``b``.  Scale design (each choice
    measured):

    * NOT a self-join — a self-join re-evaluates the whole upstream (twice
      the signature pass) and leaves the pairing to join planning.  Instead:
      count buckets, keep only buckets with 2..``max_bucket`` members, and
      join that key set back BROADCAST (AQE's size estimate for the post-agg
      set is unknown, so without the hint it sorts the full banded side —
      measured 41s vs 6s at 12.8M banded rows; the near-dup key set is small
      relative to the corpus by construction).
    * collect_list runs only AFTER the singleton filter — building 3M
      single-element lists first measured ~10x the whole job.
    * buckets of more than ``max_bucket`` members are dropped (quadratic pair
      blowup; at that size the members are exact dups better handled by
      exact_dedup first — standard LSH practice).
    """
    hot = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("c"))
        .where((F.col("c") > 1) & (F.col("c") <= max_bucket))
        .select(*keys)
    )
    return (
        banded.join(F.broadcast(hot), keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (a, i) -> "
                    "transform(slice(ms, i + 2, size(ms) - i - 1), "
                    f"b -> {pair})))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def minhash_lsh_candidates(sigs: DataFrame, id_col: str = "doc_id",
                           bands: int = 8, max_bucket: int = 4096) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b): ids sharing any LSH band
    bucket, expanded by ``_bucket_pairs``.

    ``sigs`` must carry the ``buckets`` column of ``minhash_signatures``;
    the band count is implied by it (``bands`` is accepted for call-site
    symmetry with ``minhash_signatures`` and not otherwise used).  Band
    identity is salted INTO each bucket id (``_fold_buckets``), so the
    expander keys on one long column: the 2-col (band, bucket) grouping was
    the measured scaling pin of this operator.
    """
    del bands
    if "buckets" not in sigs.columns:
        raise ValueError("sigs need the `buckets` column "
                         "(minhash_signatures(..., bands=N))")
    banded = sigs.select(F.col(id_col), F.explode("buckets").alias("bucket"))
    return _bucket_pairs(banded, ["bucket"], F.col(id_col),
                         "struct(a AS id_a, b AS id_b)", max_bucket)


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (the verifier)."""
    docs_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    docs_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    joined = pairs.join(docs_a, "id_a").join(docs_b, "id_b")

    def _row_sets(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        """Per-row DEDUPED shingle fingerprints: (row_ids, hashes)."""
        sh, row = _flat_shingle_hashes(texts, shingle_n)
        if not len(sh):
            return row, sh
        order = np.lexsort((sh, row))
        row, sh = row[order], sh[order]
        keep = np.ones(len(sh), dtype=bool)
        keep[1:] = (row[1:] != row[:-1]) | (sh[1:] != sh[:-1])
        return row[keep], sh[keep]

    @pandas_udf("double")
    @task_entry
    def jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # Fully vectorised set algebra over 64-bit shingle fingerprints (the
        # same hashing as minhash_signatures): |A∩B| = duplicates in the
        # concatenated per-pair sets, |A∪B| = |A| + |B| - |A∩B|.  No
        # per-pair Python; collision odds at 61 bits are ~1e-10 per corpus.
        n = len(ta)
        ra, ha = _row_sets(ta)
        rb, hb = _row_sets(tb)
        ca = np.bincount(ra, minlength=n)
        cb = np.bincount(rb, minlength=n)
        rows = np.concatenate([ra, rb])
        hs = np.concatenate([ha, hb])
        order = np.lexsort((hs, rows))
        rows_s, hs_s = rows[order], hs[order]
        dup = (rows_s[1:] == rows_s[:-1]) & (hs_s[1:] == hs_s[:-1])
        inter = np.bincount(rows_s[1:][dup], minlength=n)
        union = ca + cb - inter
        out = np.where(union > 0, inter / np.maximum(union, 1), 1.0)
        return pd.Series(out)

    return joined.select("id_a", "id_b", jaccard("text_a", "text_b").alias("jaccard"))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        num_perm: int = 64, bands: int = 8, shingle_n: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """End-to-end near-dup pair detection: sign -> band-bucket -> verify."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n, bands=bands)
    cands = minhash_lsh_candidates(sigs, id_col, bands)
    verified = jaccard_pairs(df, cands, text_col, id_col, shingle_n)
    return verified.where(F.col("jaccard") >= threshold)


# -- SimHash ------------------------------------------------------------------

def _md5_word_hashes(words_flat: list[str]) -> np.ndarray:
    """uint64 word hashes: the first 8 bytes of MD5, little-endian — exactly
    DuckDB's ``md5_number_upper``, so the SimHash pipeline has an exact SQL
    oracle (the pandas hash used elsewhere is library-internal and not
    expressible there).  Hashing runs once per UNIQUE word per batch."""
    import hashlib  # pylint: disable=C0415

    codes, uniques = pd.factorize(pd.Series(words_flat, dtype=object))
    hashed = np.fromiter(
        (
            int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "little")
            for w in uniques
        ),
        dtype=np.uint64,
        count=len(uniques),
    )
    return hashed[codes]


def simhash_column(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over MD5 word hashes."""

    @pandas_udf("long")
    @task_entry
    def simhash(texts: pd.Series) -> pd.Series:
        # One hash pass over the batch's flattened words, one (words x 64)
        # sign matrix, per-doc bit votes via add.reduceat — no per-doc loop.
        from itertools import chain  # pylint: disable=C0415

        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        words = texts.fillna("").str.lower().str.split()
        lens = words.str.len().to_numpy(dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        wh = _md5_word_hashes(list(chain.from_iterable(words)))
        shifts = np.arange(64, dtype=np.uint64)
        signs = (
            2 * ((wh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32) - 1
        )
        starts = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        nonempty = lens > 0
        # Empty docs add zero-length gaps between consecutive starts, so
        # reducing at each nonempty doc's start still spans exactly its words.
        votes = np.add.reduceat(signs, starts[:-1][nonempty], axis=0)
        codes = np.bitwise_or.reduce(
            (votes > 0).astype(np.uint64) << shifts[None, :], axis=1
        )
        out[nonempty] = codes.astype(np.int64)
        return pd.Series(out)

    return df.select(F.col(id_col), simhash(F.col(text_col)).alias("simhash"))


def simhash_near_dups(hashes: DataFrame, id_col: str = "doc_id",
                      max_hamming: int = 3, chunks: int = 8) -> DataFrame:
    """Near-dup pairs by Hamming distance: pigeonhole banding then exact
    popcount verification.  Each (chunk index, chunk value) is a bucket;
    ``_bucket_pairs`` expands the candidates (buckets of 2..4096 members),
    carrying both hashes so verification needs no join back.

    Completeness requires ``chunks > max_hamming`` (a pair differing in at
    most ``max_hamming`` bits cannot touch all chunks, so it must agree on
    at least one bucket); callers wanting a looser threshold trade recall.
    """
    if chunks <= max_hamming:
        raise ValueError(
            f"chunks ({chunks}) must exceed max_hamming ({max_hamming}) "
            "for the banding to be complete"
        )
    width = 64 // chunks
    # Chunk extraction unrolled driver-side (chunk count is a plan constant,
    # so each shift amount is a literal the JVM can codegen).
    chunk_exprs = [
        F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1))
        for c in range(chunks)
    ]
    banded = hashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    member = F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("h"))
    cands = _bucket_pairs(
        banded, ["chunk_idx", "chunk_val"], member,
        "struct(a.i AS id_a, b.i AS id_b, a.h AS h_a, b.h AS h_b)", 4096,
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cands.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def connected_components(pairs: DataFrame, id_col_a: str = "id_a",
                         id_col_b: str = "id_b",
                         max_iterations: int = 50) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: (id, component) where the
    component label is the smallest id reachable through the pair graph.

    Training-data dedup needs transitive closure — A~B and B~C must
    collapse to ONE kept document, which per-pair filtering cannot do.

    Algorithm: alternating large-star / small-star label propagation (the
    standard MapReduce connected-components construction; converges in
    O(log^2 n) rounds on any graph, each round two shuffles keyed by id —
    no driver state, no unbounded frontier).  Iteration stops when an
    AGGREGATE fixpoint check (sum + count of labels) is stable, costing one
    tiny job per round instead of a full subtract/anti-join.
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # Undirected edge set, both orientations — CHECKPOINTED: every
    # iteration joins against it, and without truncation each of the
    # O(log n) rounds would re-execute the full upstream pair pipeline
    # (LSH candidate generation and all) from scratch.
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iterations):
        # Propagate: every node adopts the smallest component label among
        # itself and its neighbours.
        neigh = (
            sym.join(labels.withColumnRenamed("id", "b").withColumnRenamed("comp", "comp_b"), "b")
            .groupBy("a")
            .agg(F.min("comp_b").alias("comp_n"))
        )
        labels = (
            labels.join(neigh.withColumnRenamed("a", "id"), "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("comp_n"), F.col("comp"))).alias("comp"),
            )
            # Pointer jumping: adopt the label OF the current label, halving
            # tree depth each round (this is what makes convergence log-fast
            # on long chains).
            .alias("l")
            .join(
                labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp_of_comp")
                ).alias("r"),
                "comp",
                "left",
            )
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("comp_of_comp"), F.col("comp"))).alias("comp"),
            )
            # Lazy: the fixpoint signature below is the first action, so
            # the propagation and the checkpoint materialise in one job
            # per round instead of two.
            .localCheckpoint(eager=False)
        )
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (SUM of xxhash64 longs overflows).
        sig = labels.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(id, comp))").alias("s"),
        ).collect()[0]
        sig = (sig["n"], sig["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def dedup_keep_cluster_representative(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every document whose near-dup COMPONENT contains a smaller id —
    the transitive version of pairwise dedup (keeps exactly one row per
    duplicate cluster plus every unpaired row)."""
    comps = connected_components(pairs)
    losers = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -- Line-level boilerplate removal ------------------------------------------


def boilerplate_lines(df: DataFrame, min_docs: int = 3,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(line_hash, n_docs) for every line appearing in >= ``min_docs``
    DISTINCT documents — the corpus-frequency table behind line-level
    dedup (navigation chrome, cookie banners, footers repeat across a
    site's pages; in-document prose does not).

    One explode + one distinct-count aggregate, all JVM; lines are keyed
    by ``xxhash64`` so the shuffle carries 8-byte keys, not line text.
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).where(F.length(F.trim(F.col("line"))) > 0)
    return (
        lines.select(id_col, F.xxhash64(F.trim(F.col("line"))).alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


# Row budget under which a measured join side broadcasts: 8-byte hashes x
# 8M rows ~= 64 MB serialised — comfortable on any executor.
_BROADCAST_MAX_ROWS = 8_000_000


def _broadcast_or_merge(side: DataFrame) -> DataFrame:
    """``side`` materialised once (``localCheckpoint``; the join consumes it
    anyway), counted, and hinted broadcast under ``_BROADCAST_MAX_ROWS``
    rows, else pinned to sort-merge: Catalyst's row estimate for a
    distinct/count aggregate is unreliable (it auto-broadcast a
    measured-huge hot set in testing), and a mistaken broadcast OOMs every
    executor at corpus scale.  The checkpoint's blocks are freed by the
    ContextCleaner once the plan runs and the RDD is unreferenced."""
    side = side.localCheckpoint(eager=True)
    if side.count() <= _BROADCAST_MAX_ROWS:
        return F.broadcast(side)
    return side.hint("merge")


def remove_boilerplate_lines(df: DataFrame, min_docs: int = 3,
                             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Strip lines that repeat across >= ``min_docs`` distinct documents
    (RefinedWeb/CCNet-style boilerplate removal), preserving every other
    line's order; the cleaned text replaces ``text_col``.

    Plan: each document's lines explode WITH position, anti-join the
    hot-line table, and re-assemble via a sorted collect per document.
    The hot side's strategy is MEASURED, not assumed: at the default
    ``min_docs=3`` a web-scale corpus has *millions* of distinct lines
    appearing in >=3 documents (common sentences, licence blocks, quoted
    headlines) — far past broadcast range — so ``_broadcast_or_merge``
    counts the hot set and broadcasts it only under ``_BROADCAST_MAX_ROWS``
    rows; above that the anti-join shuffles on the 8-byte hash.  Documents
    whose every line is boilerplate keep an empty string.
    """
    hot = _broadcast_or_merge(
        boilerplate_lines(df, min_docs, text_col, id_col).select("line_hash")
    )
    numbered = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_h", F.xxhash64(F.trim(F.col("_line"))))
    kept = numbered.join(
        hot.withColumnRenamed("line_hash", "_h"), "_h", "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_clean")
    )
    out = df.join(rebuilt, id_col, "left")
    return out.withColumn(
        text_col, F.coalesce(F.col("_clean"), F.lit(""))
    ).drop("_clean")


# -- Incremental (append-mode) near-dup detection ----------------------------


def minhash_lsh_candidates_incremental(new_sigs: DataFrame,
                                       index_sigs: DataFrame,
                                       id_col: str = "doc_id",
                                       max_bucket: int = 4096) -> DataFrame:
    """Candidate pairs (new_id, index_id) between a NEW batch and an
    EXISTING signature index — the daily-crawl dedup shape: yesterday's
    corpus is indexed once (store the fused ``buckets`` column), today's
    batch checks against it without re-bucketing the index.

    Plan: the new batch's bucket set is tiny relative to the index, so it
    broadcasts; the index scan semi-joins down to only the touched
    buckets BEFORE any pairing (bucket-count pruning on the index never
    scans untouched rows).  Pair expansion is grouped per bucket with the
    same ``max_bucket`` quadratic-blowup cap as the batch path.  New-vs-new
    duplicates are the batch path's job (`minhash_lsh_candidates` on
    ``new_sigs``); this operator covers strictly cross pairs.
    """
    for side, name in ((new_sigs, "new_sigs"), (index_sigs, "index_sigs")):
        if "buckets" not in side.columns:
            raise ValueError(f"{name} needs the fused `buckets` column "
                             "(minhash_signatures(..., bands=N))")
        # Bucket ids are only comparable between identical derivations: an
        # index signed by an older bucket scheme joins to zero candidates
        # and silently admits every duplicate, so refuse loudly instead.
        if "sig_format" not in side.columns:
            raise ValueError(
                f"{name} carries no `sig_format` column — it predates "
                f"bucket-format versioning; re-sign it with "
                f"minhash_signatures (current format {MINHASH_SIG_FORMAT!r})"
            )
        # Check EVERY row's format, not a sample: an index directory can mix
        # batches written by different revisions (mergeSchema fills missing
        # columns with NULL), and a one-row probe would pass while the old
        # batches silently join to zero candidates.  One column-pruned
        # aggregate over a dictionary-encoded column — cheap relative to
        # the pair join it guards.
        got = side.select(
            F.collect_set(F.coalesce(F.col("sig_format"), F.lit("<null>")))
            .alias("fmts")
        ).collect()[0]["fmts"]
        bad = [f for f in got if f != MINHASH_SIG_FORMAT]
        if bad:
            raise ValueError(
                f"{name} holds bucket format(s) {sorted(bad)!r} != engine "
                f"format {MINHASH_SIG_FORMAT!r}: bucket ids are not "
                "comparable across derivations; re-sign those batches"
            )
    new_b = new_sigs.select(
        F.col(id_col).alias("id_new"), F.explode("buckets").alias("bucket")
    )
    idx_b = index_sigs.select(
        F.col(id_col).alias("id_idx"), F.explode("buckets").alias("bucket")
    )
    touched = new_b.select("bucket").distinct()
    hits = idx_b.join(F.broadcast(touched), "bucket", "inner")
    # Cap per bucket on the INDEX side (a mega-bucket would pair every new
    # row against it; at that size members are exact dups better handled by
    # exact_dedup, same rationale as the batch path).
    from pyspark.sql import Window as W  # pylint: disable=C0415

    capped = (
        hits.withColumn(
            "_rn", F.row_number().over(
                W.partitionBy("bucket").orderBy(F.col("id_idx").asc())
            )
        )
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    return (
        new_b.join(capped, "bucket", "inner")
        .select("id_new", "id_idx")
        .distinct()
    )


def minhash_dedup_against_index(new_docs: DataFrame, index_sigs: DataFrame,
                                index_docs: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_perm: int = 64, bands: int = 16,
                                shingle_n: int = 3,
                                threshold: float = 0.8) -> DataFrame:
    """Rows of ``new_docs`` that are NOT near-duplicates of the existing
    index: sign the batch, generate cross candidates, verify with exact
    Jaccard against the index documents, anti-join the hits — the
    append-mode dedup a rolling crawl pipeline runs every ingest."""
    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, num_perm, shingle_n, bands=bands
    )
    cands = minhash_lsh_candidates_incremental(new_sigs, index_sigs, id_col)
    pairs = cands.select(
        F.col("id_new").alias("id_a"), F.col("id_idx").alias("id_b")
    )
    both = new_docs.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(index_docs.select(F.col(id_col), F.col(text_col)))
    verified = jaccard_pairs(both, pairs, text_col, id_col, shingle_n)
    dupes = verified.where(F.col("jaccard") >= threshold).select(
        F.col("id_a").alias(id_col)
    ).distinct()
    return new_docs.join(dupes, id_col, "left_anti")


# -- Eval-set decontamination --------------------------------------------------


def contaminated_ids(docs: DataFrame, eval_docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     eval_text_col: "str | None" = None, n: int = 13,
                     min_hits: int = 1) -> DataFrame:
    """(id, n_hits) for every training document sharing >= ``min_hits``
    DISTINCT word ``n``-grams with the evaluation corpus — the GPT-3 /
    Gopher eval-set decontamination rule (13-gram overlap in the
    published pipelines; documents shorter than ``n`` words count their
    whole word sequence as one gram, same rule as ``lm.ngram_column``).

    Plan: the eval side collapses to a distinct 8-byte gram-hash table
    (benchmark-sized), which ``_broadcast_or_merge`` counts and broadcasts
    under ``_BROADCAST_MAX_ROWS`` rows (pinned sort-merge above); the
    training side is one explode + join + per-doc distinct count — no
    driver rows, linear in corpus grams, the scan prunes to (id, text).
    """
    from .lm import ngram_column  # pylint: disable=C0415

    ecol = eval_text_col or text_col
    eval_grams = _broadcast_or_merge(
        eval_docs.select(F.explode(ngram_column(F.col(ecol), n)).alias("_gram"))
        .select(F.xxhash64("_gram").alias("_g"))
        .distinct()
    )
    train = docs.select(
        F.col(id_col),
        F.explode(ngram_column(F.col(text_col), n)).alias("_gram"),
    ).select(id_col, F.xxhash64("_gram").alias("_g"))
    hits = train.join(eval_grams, "_g", "inner")
    return (
        hits.select(id_col, "_g").distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  eval_text_col: "str | None" = None, n: int = 13,
                  min_hits: int = 1) -> DataFrame:
    """Training rows with fewer than ``min_hits`` distinct ``n``-gram
    overlaps against the eval corpus (anti-join of ``contaminated_ids``)
    — run before training so benchmark answers cannot leak into the
    corpus; the published pipelines remove, rather than rewrite,
    overlapping documents."""
    bad = contaminated_ids(
        docs, eval_docs, text_col, id_col, eval_text_col, n, min_hits
    ).select(id_col)
    return docs.join(bad, id_col, "left_anti")


def dedup_lines_within_doc(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only the FIRST occurrence of each line within a document
    (the in-document half of repetition cleanup; corpus-wide repetition is
    ``remove_boilerplate_lines``).  Pure per-row array algebra — a line
    survives iff ``array_position`` finds it first at its own index — so
    the operator is shuffle-free and pushes down with the scan."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines, lambda l, i: F.array_position(lines, l) == i + F.lit(1)
    )
    return df.withColumn(text_col, F.array_join(kept, "\n"))
