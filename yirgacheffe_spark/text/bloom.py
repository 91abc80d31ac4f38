"""Bloom-filter pre-filtering for index-backed exact dedup.

The rolling-crawl problem: each new batch must be deduplicated against an
accumulated index of billions of accepted content hashes.  A plain
anti-join shuffles (or at least scans + hashes) the INDEX every batch; a
Bloom filter built ONCE over the index turns that into a per-batch
map-side probe — rows that fail the probe are *definitely* new (Bloom
filters have no false negatives) and skip the join entirely; only the
small passing fraction (true dups + fpp of the batch) joins the index to
confirm.  The result is EXACT: the filter only routes rows, it never
decides membership alone.

Construction is distributed column algebra: k = ``num_hashes`` bit
positions per key via JVM ``xxhash64(key, i) mod m``, one groupBy-bit_or
over 64-bit words — the only driver-sized object is the finished bit
array (``num_bits / 8`` bytes; ~1.2 GB for 10^9 keys at 1% fpp — within
Spark's broadcast range; shard by key-hash for corpora beyond that).
The probe computes the same positions JVM-side and checks the bits in a
vectorized Arrow-batched pandas UDF over the closure-captured array (a
few ns per row; the array ships to executors once per job via the task
broadcast, not per row).

Spark's own ``bloom_filter_agg``/``might_contain`` expressions are not
exposed in the public function registry (checked on 4.1), hence this
from-parts build on the same double-hashing design (Kirsch &
Mitzenmacher 2006).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .._worker import task_entry

BLOOM_FORMAT = "ygbloom-v1"


def bloom_parameters(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (num_bits, num_hashes) for ``expected_items`` at ``fpp``
    (standard formulas: m = -n ln p / ln^2 2, k = (m/n) ln 2).
    num_bits is rounded up to a multiple of 64."""
    if expected_items <= 0:
        raise ValueError(f"expected_items must be positive, got {expected_items}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def _positions(col, num_bits: int, num_hashes: int):
    """array<bigint> of the key's k bit positions — pure JVM, the single
    definition both build and probe compile against (a build/probe hash
    mismatch would silently break the no-false-negative guarantee)."""
    return F.array(*[
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ])


class BloomFilter:
    """An immutable bit array + its parameters.  ``words`` is the packed
    uint64 array (length num_bits/64)."""

    def __init__(self, words: np.ndarray, num_bits: int, num_hashes: int):
        if len(words) != num_bits // 64:
            raise ValueError(
                f"words length {len(words)} != num_bits/64 = {num_bits // 64}"
            )
        self.words = np.ascontiguousarray(words, dtype=np.uint64)
        self.num_bits = int(num_bits)
        self.num_hashes = int(num_hashes)

    # -- construction ---------------------------------------------------------

    @classmethod
    def build(cls, df: DataFrame, key_col: str, num_bits: int,
              num_hashes: int) -> "BloomFilter":
        """Distributed build: explode the k positions, bit-OR per 64-bit
        word (map-side partial agg), assemble the sparse result on the
        driver.  One scan of ``df``, shuffle volume <= num_bits/64 rows."""
        pos = df.select(
            F.explode(_positions(F.col(key_col), num_bits, num_hashes))
            .alias("_pos")
        )
        words = (
            pos.select(
                (F.col("_pos") / 64).cast("bigint").alias("_word"),
                F.expr("shiftleft(1L, cast(_pos % 64 AS int))").alias("_bit"),
            )
            .groupBy("_word")
            .agg(F.bit_or("_bit").alias("_bits"))
            .collect()
        )
        arr = np.zeros(num_bits // 64, dtype=np.uint64)
        for r in words:
            arr[r["_word"]] = np.uint64(r["_bits"] & 0xFFFFFFFFFFFFFFFF)
        return cls(arr, num_bits, num_hashes)

    # -- persistence (a parquet artifact batches/jobs can share) --------------

    def save(self, spark, path: str) -> None:
        meta = {"format": BLOOM_FORMAT, "num_bits": self.num_bits,
                "num_hashes": self.num_hashes}
        df = spark.createDataFrame(
            [(int(i), int(np.int64(w)), meta["format"], meta["num_bits"],
              meta["num_hashes"])
             for i, w in enumerate(self.words.view(np.int64))],
            "word_idx bigint, bits bigint, format string, num_bits bigint, "
            "num_hashes int",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str) -> "BloomFilter":
        rows = spark.read.parquet(path).collect()
        if not rows:
            raise ValueError(f"empty bloom artifact at {path}")
        fmt = rows[0]["format"]
        if fmt != BLOOM_FORMAT:
            raise ValueError(
                f"bloom artifact format {fmt!r} != engine format "
                f"{BLOOM_FORMAT!r}: bit layouts are not comparable; rebuild"
            )
        num_bits, num_hashes = rows[0]["num_bits"], rows[0]["num_hashes"]
        arr = np.zeros(num_bits // 64, dtype=np.int64)
        for r in rows:
            arr[r["word_idx"]] = r["bits"]
        return cls(arr.view(np.uint64), num_bits, num_hashes)

    # -- probing --------------------------------------------------------------

    def might_contain(self, key_col) -> "F.Column":
        """Boolean column: False = definitely absent, True = maybe present.

        Positions are JVM-computed (same expression as the build); the bit
        test is one vectorized Arrow batch over the closure-captured
        array."""
        from pyspark.sql.pandas.functions import pandas_udf

        words = self.words  # closure capture; ships once per job

        @pandas_udf("boolean")
        @task_entry
        def _probe(pos: pd.Series) -> pd.Series:
            if len(pos) == 0:
                return pd.Series([], dtype=bool)
            p = np.stack(pos.to_numpy()).astype(np.int64)  # (rows, k)
            w = words[p >> 6]
            bit = (w >> (p & 63).astype(np.uint64)) & np.uint64(1)
            return pd.Series(bit.all(axis=1))

        return _probe(_positions(key_col, self.num_bits, self.num_hashes))


def exact_dedup_against_index(new_df: DataFrame, index_df: DataFrame,
                              bloom: "BloomFilter | None" = None,
                              text_col: str = "text",
                              index_hash_col: str = "content_hash",
                              reuse: str = "checkpoint") -> DataFrame:
    """Rows of ``new_df`` whose content hash is NOT in the index — exact,
    with or without a bloom.

    ``index_df`` carries ``index_hash_col`` = ``xxhash64(text)`` of every
    accepted document (the stored dedup index).  Without a bloom this is
    one anti-join.  With a bloom built over that hash column, rows
    failing the probe bypass the join (no false negatives = provably not
    indexed); only probe-passers anti-join the index, cutting the join
    input to the duplicate rate + fpp of the batch.  Output schema =
    ``new_df``.

    ``reuse`` picks how the probed frame (consumed by BOTH union
    branches) is shared — every option has a real trade-off, so it is
    explicit:

    * ``"checkpoint"`` (default): ``localCheckpoint`` — freed by the
      ContextCleaner with the plan (no per-batch cache leak), but the
      blocks are unreplicated with truncated lineage, so losing the
      executor that holds them fails the job instead of recomputing
      (avoid with aggressive dynamic allocation);
    * ``"persist"``: recomputable on executor loss, but the CacheManager
      entry lives until the CALLER unpersists (call
      ``spark.catalog.clearCache()`` between batches, or leak one entry
      per batch);
    * ``"none"``: no shared state at all — the batch scan + Arrow probe
      simply run once per branch (2x batch cost, always safe).
    """
    if reuse not in ("checkpoint", "persist", "none"):
        raise ValueError(f"reuse must be checkpoint|persist|none, got {reuse!r}")
    hashed = new_df.withColumn("_h", F.xxhash64(F.col(text_col)))
    idx = index_df.select(F.col(index_hash_col).alias("_h")).distinct()
    if bloom is None:
        return hashed.join(idx, "_h", "left_anti").drop("_h")
    # Probe with the SAME key the bloom was built over — the stored hash,
    # not the raw text (a key mismatch would silently void the
    # no-false-negative guarantee and drop real duplicates).
    probed = hashed.withColumn("_maybe", bloom.might_contain(F.col("_h")))
    if reuse == "checkpoint":
        probed = probed.localCheckpoint(eager=False)
    elif reuse == "persist":
        probed = probed.persist()
    definite_new = probed.where(~F.col("_maybe"))
    confirmed_new = probed.where(F.col("_maybe")).join(idx, "_h", "left_anti")
    return definite_new.unionByName(confirmed_new).drop("_h", "_maybe")
