"""Deterministic dataset-curation sampling for training pipelines.

Every operator here is *content-keyed and deterministic*: membership is a
pure function of a row's key and the seed, never of partitioning, task
retries, or cluster size — the property a 10^12-document pipeline needs so
that re-runs, incremental appends, and audits all agree on which rows are
in.  (Spark's ``df.sample`` is seed-stable only for a fixed partitioning;
a repartition or a lost executor changes its output.)

The hash is the first 8 hex digits... precisely: the first 16 hex chars of
the MD5 digest parsed big-endian, computed JVM-side; DuckDB expresses the
identical value as ``('0x' || substr(md5(k), 1, 16))::UBIGINT``, so every
sample has an exact SQL oracle form.

Scale notes: all operators are one narrow column expression (no shuffle,
no Python) except ``stratified_sample``'s fraction lookup, which joins a
broadcast dim of strata.  Filters push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 2^64 as a float divisor: uniform in [0, 1) from a uint64 hash.
_TWO64 = float(1 << 64)


def _hash_unit(key_col, seed: int):
    """Uniform [0, 1) from the MD5 of (key, seed) — JVM-side, Python-free.

    ``md5`` returns the hex digest; the first 16 hex chars are the first 8
    bytes.  ``conv(..., 16, 10)`` parses them as an unsigned decimal string
    which ``cast(decimal(20,0))`` holds exactly; dividing by 2^64 yields
    the unit float.  Byte order here is BIG-endian of the first 8 bytes
    (hex order) — the DuckDB mirror is
    ``('0x' || substr(md5(key || ' ' || seed), 1, 16))::UBIGINT / 2^64``.
    """
    # F.concat (not concat_ws): a NULL key must yield a NULL hash — with
    # concat_ws every null key would silently share ONE hash value and move
    # in and out of samples as a correlated block.  Null-key rows therefore
    # drop from every sample and from BOTH split sides; key on a non-null
    # content fingerprint.
    h = F.conv(
        F.substring(F.md5(F.concat(key_col.cast("string"), F.lit(" "),
                                   F.lit(str(seed)))), 1, 16),
        16, 10,
    ).cast("decimal(20,0)")
    return h.cast("double") / F.lit(_TWO64)


def salted_sample(df: DataFrame, fraction: float, key_col: str,
                  seed: int = 0) -> DataFrame:
    """Keep rows whose content-hash unit value falls below ``fraction``.

    Membership depends only on (key, seed): stable under repartitioning,
    retries, incremental appends, and cluster resizes.  Expected (not
    exact) sample size — the standard trade of hash sampling.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_hash_unit(F.col(key_col), seed) < fraction)


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, key_col: str,
                      seed: int = 0) -> DataFrame:
    """Per-stratum deterministic hash sampling (e.g. per-language quotas).

    ``fractions`` maps stratum value -> keep fraction; strata not listed
    are dropped.  The fraction lookup is a broadcast join of a dim-sized
    strata table; membership is the same content-hash rule as
    ``salted_sample``.
    """
    for v in fractions.values():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {v}")
    spark = df.sparkSession
    frac_df = spark.createDataFrame(
        [(k, float(v)) for k, v in fractions.items()],
        schema=f"{strata_col} {dict(df.dtypes)[strata_col]}, _keep_frac double",
    )
    return (
        df.join(F.broadcast(frac_df), strata_col, "inner")
        .where(_hash_unit(F.col(key_col), seed) < F.col("_keep_frac"))
        .drop("_keep_frac")
    )


def train_test_split(df: DataFrame, test_fraction: float, key_col: str,
                     seed: int = 0) -> tuple[DataFrame, DataFrame]:
    """(train, test) split by content hash — the SAME key always lands on
    the same side, so near-duplicate leakage across the split can be
    prevented by keying on a content fingerprint rather than a row id."""
    if not 0.0 <= test_fraction <= 1.0:
        raise ValueError(f"test_fraction must be in [0, 1], got {test_fraction}")
    u = _hash_unit(F.col(key_col), seed)
    return df.where(u >= test_fraction), df.where(u < test_fraction)


# Rows per packing partition when ``pack_sequences`` derives the count.
_PACK_ROWS_PER_PARTITION = 1_000_000


def pack_sequences(df: DataFrame, token_budget: int,
                   token_col: str = "n_tokens", id_col: str = "doc_id",
                   partitions: int | None = None) -> DataFrame:
    """Assign documents to fixed-token-budget bins (sequence packing for
    LLM training): adds ``bin_id`` (long) such that each bin's total
    ``token_col`` is <= ``token_budget`` (oversized single documents get a
    bin of their own).

    Distributed first-fit-decreasing approximation: rows range-partition by
    (descending size, id) so each partition packs a contiguous size band
    with a greedy first-fit pass (vectorised bookkeeping, one Arrow pass);
    bin ids are made globally unique by a per-partition offset.  Within a
    partition the (size desc, id) order fully determines the packing;
    PARTITION BOUNDARIES, however, come from Spark's range sampler, which
    samples per input split — so bin assignments are deterministic for a
    fixed input layout and partition count, and rows near a range boundary
    may move between bins when either changes (unlike the content-keyed
    samplers above, which are layout-invariant by construction).

    Packing quality: first-fit-decreasing wastes < ~22% in the worst case
    and a few percent in practice; a global optimum would serialise the
    whole dataset through one solver, which does not exist at 10^12 rows.

    Cost bound: the greedy pass is O(rows x open_bins) per partition, and
    open bins accumulate for the partition's lifetime (~rows x mean_size /
    budget) — so when ``partitions`` is not passed it is DERIVED from the
    row count (one count() job) at ~10^6 rows per partition
    (``_PACK_ROWS_PER_PARTITION``), floored at the cluster parallelism.
    rows/parallelism per partition — the naive default — would hand each
    partition ~10^9 rows at 10^12-row scale and the greedy pass would never
    finish; deriving from the count keeps the per-partition pass bounded at
    any input size.
    """
    import math  # pylint: disable=C0415

    import numpy as np  # pylint: disable=C0415
    import pandas as pd  # pylint: disable=C0415

    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    spark = df.sparkSession
    if partitions is None:
        n_rows = df.count()
        partitions = max(
            spark.sparkContext.defaultParallelism,
            math.ceil(n_rows / _PACK_ROWS_PER_PARTITION),
        )
    n_parts = max(int(partitions), 1)
    ordered = (
        df.select(id_col, F.col(token_col).cast("long").alias("_tok"))
        .repartitionByRange(n_parts, F.col("_tok").desc(), F.col(id_col))
        .sortWithinPartitions(F.col("_tok").desc(), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )

    def pack(batches):
        residuals: list[int] = []  # remaining capacity per open bin
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["_pid"].iloc[0])
            toks = pdf["_tok"].to_numpy()
            ids = pdf[id_col].to_numpy()
            out_bin = np.empty(len(pdf), dtype=np.int64)
            res = np.asarray(residuals, dtype=np.int64)
            res_max = int(res.max()) if len(res) else -1
            for i, t in enumerate(toks):
                if t > res_max:  # nothing open fits: skip the scan entirely
                    j = len(res)
                    res = np.append(res, max(token_budget - t, 0))
                    res_max = max(res_max, int(res[j]))
                else:
                    j = int(np.nonzero(res >= t)[0][0])
                    res[j] -= t
                    if res[j] + t >= res_max:
                        res_max = int(res.max())
                out_bin[i] = j
            residuals = res.tolist()
            yield pd.DataFrame({id_col: ids, "_tok_out": toks, "_local_bin": out_bin,
                                "_pid_out": pid})

    packed = ordered.mapInPandas(
        pack,
        schema=f"{id_col} {dict(df.dtypes)[id_col]}, _tok_out long, "
               "_local_bin long, _pid_out int",
    )
    # Globally unique bins: partition id in the high bits.  2^40 bins per
    # partition bounds nothing real (a partition packs << 2^40 bins).
    return packed.select(
        id_col,
        F.col("_tok_out").alias(token_col),
        (F.col("_pid_out").cast("long") * F.lit(1 << 40)
         + F.col("_local_bin")).alias("bin_id"),
    )


def leakage_safe_split(df: DataFrame, dup_pairs: DataFrame,
                       test_fraction: float, id_col: str = "doc_id",
                       seed: int = 0) -> "tuple[DataFrame, DataFrame]":
    """(train, test) split that never separates near-duplicates: every
    document of a near-dup COMPONENT lands on the same side (a duplicate
    of a test document leaking into train is the classic eval
    contamination), singletons split by their own id.

    ``dup_pairs`` is any (id_a, id_b) near-dup pair table (MinHash,
    SimHash, embedding LSH); components come from the distributed
    connected-components operator, and side assignment hashes the
    component label with the same content-keyed rule as
    ``train_test_split``.
    """
    from .dedup import connected_components  # pylint: disable=C0415

    comps = connected_components(dup_pairs).select(
        F.col("id").alias(id_col), F.col("component")
    )
    keyed = df.join(comps, id_col, "left").withColumn(
        "_split_key", F.coalesce(F.col("component"), F.col(id_col))
    )
    u = _hash_unit(F.col("_split_key"), seed)
    train = keyed.where(u >= test_fraction).drop("component", "_split_key")
    test = keyed.where(u < test_fraction).drop("component", "_split_key")
    return train, test


def sample_token_budget(df: DataFrame, token_budget: int,
                        tokens_col: str = "n_tokens",
                        key_col: str = "doc_id",
                        seed: int = 0, exact: bool = True) -> DataFrame:
    """Deterministic sample holding ~``token_budget`` total tokens — the
    "give me 100B tokens of this corpus" primitive.

    Documents are ordered by their content-hash unit value (so membership
    is layout/retry-invariant and a larger budget yields a SUPERSET of a
    smaller one — budgets can be grown without resampling); the sample is
    the shortest hash-prefix whose token sum reaches the budget.

    Two passes: (1) one aggregate for the total token count sizes the
    hash threshold at ``budget / total``; (2) the candidate band (1.25x
    the estimate, bounded error under Chernoff at corpus sizes) is
    exact-trimmed by cumulative token sum in hash order.  The cumulative
    sum is DISTRIBUTED — range-partition the band on the hash, window
    within each partition, add driver-computed per-partition offsets (a
    task-count-sized list) — never a global single-task window.  With
    ``exact=False`` the trim pass is skipped and the expected-size
    threshold filter is the whole plan (one scan, zero shuffles — the
    10^12-row fast path).
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    u = _hash_unit(F.col(key_col), seed)
    total = df.agg(F.sum(tokens_col)).collect()[0][0] or 0
    if total <= token_budget:
        return df
    t = token_budget / total
    if not exact:
        return df.where(u < t)
    from pyspark.sql import Window as W  # pylint: disable=C0415

    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)

    def banded(cutoff: float):
        b = df.withColumn("_u", u)
        if cutoff < 1.0:
            b = b.where(F.col("_u") < cutoff)
        return (
            b.repartitionByRange(n_parts, F.col("_u").asc(),
                                 F.col(key_col).asc())
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint(eager=False)  # pin partitioning: offsets below
            # are only valid for THIS physical layout
        )

    # The 1.25x band is an expectation, not a guarantee: under heavy token
    # skew (one giant document holding most of the mass) the band can fall
    # short of the budget — widen geometrically until it covers, ending at
    # the whole corpus.  Coverage is probed with a shuffle-free aggregate
    # (filter + sum, no range partitioning), so the expensive
    # checkpoint-pinned layout is built exactly ONCE, after the cutoff
    # converges — a failed attempt leaves no abandoned checkpoint blocks
    # behind.
    cutoff = min(1.0, t * 1.25)
    while cutoff < 1.0:
        covered = (
            df.where(u < cutoff).agg(F.sum(tokens_col)).collect()[0][0] or 0
        )
        if covered >= token_budget:
            break
        cutoff = min(1.0, cutoff * 8)
    band = banded(cutoff)
    part_totals = {
        r["_pid"]: r["_tok"]
        for r in band.groupBy("_pid").agg(
            F.sum(tokens_col).alias("_tok")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(part_totals):
        offsets.append((pid, acc))
        acc += part_totals[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)],
                                   schema="_pid int, _offset bigint")
    # Running token sum in hash order; keep every doc whose PREDECESSORS
    # have not already filled the budget (so the sample overshoots by at
    # most one document, and a grown budget keeps every current member).
    local_cum = F.sum(tokens_col).over(
        W.partitionBy("_pid")
        .orderBy(F.col("_u").asc(), F.col(key_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        band.join(F.broadcast(off_df), "_pid")
        .withColumn("_cum_before",
                    F.col("_offset") + F.coalesce(local_cum, F.lit(0)))
        .where(F.col("_cum_before") < token_budget)
        .drop("_u", "_pid", "_offset", "_cum_before")
    )


def mix_corpus(df: DataFrame, domain_col: str, weights: dict,
               token_budget: int, tokens_col: str = "n_tokens",
               key_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Deterministic domain-mixture sample: ~``token_budget`` total
    tokens split across domains by ``weights`` (the Pile/DoReMi-style
    static mixture).  Weights are normalized; domains not listed are
    dropped; a domain smaller than its quota contributes everything it
    has (the shortfall is reported by the caller comparing token sums,
    not silently rebalanced — rebalancing would make every domain's
    membership depend on every other domain's size).

    One aggregate sizes all domains at once; each domain then applies
    the same hash-prefix rule as ``sample_token_budget`` (expected-size
    thresholds; one scan, no shuffle, no per-domain jobs).
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if not weights:
        raise ValueError("weights must be non-empty")
    for v in weights.values():
        if v < 0:
            raise ValueError(f"weights must be >= 0, got {v}")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to > 0")

    totals = {
        r[domain_col]: r["_tok"]
        for r in df.groupBy(domain_col).agg(
            F.sum(tokens_col).alias("_tok")).collect()
        if r[domain_col] in weights
    }
    rows = []
    for dom, w in weights.items():
        quota = token_budget * (w / wsum)
        have = float(totals.get(dom, 0) or 0)
        rows.append((dom, min(1.0, quota / have) if have > 0 else 0.0))
    spark = df.sparkSession
    frac_df = spark.createDataFrame(
        rows, schema=f"{domain_col} {dict(df.dtypes)[domain_col]}, _keep double"
    )
    return (
        df.join(F.broadcast(frac_df), domain_col, "inner")
        .where(_hash_unit(F.col(key_col), seed) < F.col("_keep"))
        .drop("_keep")
    )
