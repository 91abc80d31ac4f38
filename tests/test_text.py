"""Training-data pipeline ops on the driver-generated documents/embeddings
tables: dedup (exact + minhash + simhash + jaccard), quality/langid/tokens/
fingerprint, ANN, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from yirgacheffe_spark.text import ann, dedup, multimodal, quality

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestQuality:
    def test_token_count_matches_python(self, documents):
        rows = documents.select("doc_id", "text",
                                quality.token_count(F.col("text")).alias("n")).collect()
        for r in rows[:200]:
            assert r["n"] == len(r["text"].split()), r["text"][:50]

    def test_quality_score_bounds(self, documents):
        scores = documents.select(quality.quality_score(F.col("text")).alias("q")).collect()
        assert all(0.0 <= r["q"] <= 1.0 for r in scores)

    def test_fingerprint_is_whitespace_invariant(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"text": ["hello  world", "hello world", "HELLO WORLD\t"]})
        )
        fps = [r[0] for r in df.select(quality.fingerprint(F.col("text"))).collect()]
        assert fps[0] == fps[1] == fps[2]

    def test_language_id_on_clear_samples(self, spark):
        # documents.lang in the driver tables is random (uncorrelated with the
        # text), so ground truth comes from purpose-built samples.
        samples = [
            ("en", "the cat sat on the mat and it was happy with that for sure"),
            ("de", "der hund und die katze sind nicht mit der maus auf das sofa"),
            ("fr", "le chat est dans la maison et les oiseaux sont pour une fois"),
            ("es", "el perro y la casa es para los amigos en una ciudad que brilla"),
            ("ru", "и в не на что это с как по из"),
            ("zh", "的一是不了人我在有他"),
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"lang": [s[0] for s in samples], "text": [s[1] for s in samples]})
        )
        got = df.withColumn("guess", quality.language_id(F.col("text"))).collect()
        for r in got:
            assert r["guess"] == r["lang"], (r["lang"], r["guess"])


class TestDedup:
    def test_exact_dedup(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": ["aa bb", "aa bb", "cc dd", "aa  bb"]}
        )
        out = dedup.exact_dedup(spark.createDataFrame(pdf)).collect()
        kept = sorted(r["doc_id"] for r in out)
        assert kept == [1, 3, 4]  # exact match only; whitespace variant kept

    def test_minhash_finds_near_dups(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again in the field"
        near = base.replace("lazy", "sleepy")
        far = "completely different content about spark partitions and shuffle behaviour"
        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
        df = spark.createDataFrame(pdf)
        pairs = dedup.minhash_dedup_pairs(df, num_perm=64, bands=16, threshold=0.5).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    def test_minhash_recall_against_brute_force(self, documents, spark):
        docs = documents.limit(120)
        pairs = dedup.minhash_dedup_pairs(docs, num_perm=128, bands=32, threshold=0.8)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        rows = docs.select("doc_id", "text").collect()
        want = set()
        for i, a in enumerate(rows):
            for b in rows[i + 1 :]:
                sa, sb = dedup._shingles(a["text"], 3), dedup._shingles(b["text"], 3)
                union = sa | sb
                j = len(sa & sb) / len(union) if union else 1.0
                if j >= 0.8:
                    want.add(tuple(sorted((a["doc_id"], b["doc_id"]))))
        # banding at 32 bands/128 perms has ~1.0 recall at j>=0.8
        assert want <= got or not want

    def test_simhash_near_dups(self, spark):
        base = " ".join(f"tok{i}" for i in range(40))
        near = base.replace("tok7", "tokX")
        far = " ".join(f"zz{i}" for i in range(40))
        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
        hashes = dedup.simhash_column(spark.createDataFrame(pdf))
        pairs = dedup.simhash_near_dups(hashes, max_hamming=6, chunks=8).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids
        assert (1, 3) not in ids and (2, 3) not in ids

    def test_jaccard_identical_is_one(self, spark):
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "a b c d e"]})
        df = spark.createDataFrame(pdf)
        pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
        out = dedup.jaccard_pairs(df, pairs).collect()
        assert out[0]["jaccard"] == 1.0


class TestANN:
    def test_brute_force_topk_matches_numpy(self, embeddings, spark):
        q_rows = embeddings.limit(2).collect()
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": [r["vec_id"] for r in q_rows],
                 "embedding": [list(r["embedding"]) for r in q_rows]}
            )
        )
        got = ann.brute_force_topk(embeddings, queries, k=5).collect()
        corpus = embeddings.collect()
        mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in corpus])
        ids = np.array([r["vec_id"] for r in corpus])
        for qr in q_rows:
            qv = np.array(qr["embedding"], dtype=np.float64)
            sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
            order = np.lexsort((ids, -np.round(sims, 6)))[:5]
            want = list(ids[order])
            mine = [r["vec_id"] for r in sorted(
                (r for r in got if r["query_id"] == qr["vec_id"]),
                key=lambda r: r["rank"],
            )]
            assert mine == want
            # top hit is the query itself
            assert mine[0] == qr["vec_id"]

    def test_lsh_topk_recall(self, embeddings, spark):
        q_rows = embeddings.limit(3).collect()
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": [r["vec_id"] for r in q_rows],
                 "embedding": [list(r["embedding"]) for r in q_rows]}
            )
        )
        exact = ann.brute_force_topk(embeddings, queries, k=10).collect()
        approx = ann.lsh_topk(spark, embeddings, queries, k=10, bits=4, tables=16).collect()
        for qid in {r["query_id"] for r in exact}:
            want = {r["vec_id"] for r in exact if r["query_id"] == qid}
            mine = {r["vec_id"] for r in approx if r["query_id"] == qid}
            recall = len(want & mine) / len(want)
            assert recall >= 0.6, f"query {qid}: recall {recall}"


class TestMultimodal:
    def test_feature_extraction_shapes(self, spark):
        media = multimodal.synthesize_media(spark, 50)
        feats = multimodal.extract_features(media, decode="fake", dim=16).collect()
        assert len(feats) == 50
        for r in feats:
            assert len(r["feature"]) == 16
            assert abs(sum(r["feature"]) - 1.0) < 1e-5

    def test_resize_payload_size(self, spark):
        media = multimodal.synthesize_media(spark, 10)
        thumbs = multimodal.resize(media, 8, 6, decode="fake").collect()
        for r in thumbs:
            assert len(r["thumb"]) == 8 * 6

    def test_frame_sampling(self, spark):
        media = multimodal.synthesize_media(spark, 60)
        frames = multimodal.sample_frames(media, every_n=10)
        rows = frames.collect()
        vids = media.where("kind = 'video'").select("media_id", "n_frames").collect()
        want = sum(len(range(0, max(v["n_frames"] - 1, 0) + 1, 10)) for v in vids)
        assert len(rows) == want

    def test_strict_decoder_raises(self, spark):
        media = multimodal.synthesize_media(spark, 3)
        with pytest.raises(Exception) as err:
            multimodal.extract_features(media, decode="strict").collect()
        assert "NotImplementedError" in str(err.value) or "codec" in str(err.value)

    def test_determinism(self, spark):
        a = multimodal.synthesize_media(spark, 20).orderBy("media_id").collect()
        b = multimodal.synthesize_media(spark, 20).orderBy("media_id").collect()
        assert a == b


class TestCosineNearDupLSH:
    def test_lsh_near_dup_equals_brute_force(self, embeddings, spark):
        brute = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in ann.cosine_near_dup_pairs(embeddings, threshold=0.42).collect()
        }
        got = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in ann.cosine_near_dup_pairs_lsh(
                embeddings, threshold=0.42, bits=4, tables=64
            ).collect()
        }
        assert got == brute and brute  # recall 1.0 AND precision 1.0

    def test_lsh_near_dup_plan_has_no_cross_join(self, embeddings):
        plan = ann.cosine_near_dup_pairs_lsh(
            embeddings, threshold=0.42, bits=4, tables=8
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _minhash_pairs_of_identical(spark, n, max_bucket):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n), "text": ["one two three four five six seven"] * n}))
    sigs = dedup.minhash_signatures(docs, num_perm=16, bands=4)
    return dedup.minhash_lsh_candidates(sigs, max_bucket=max_bucket)


def _cosine_pairs_of_identical(spark, n, max_bucket):
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(n), "embedding": [[1.0, 2.0, 3.0]] * n}))
    return ann.cosine_near_dup_pairs_lsh(
        emb, threshold=0.9, bits=4, tables=4, max_bucket=max_bucket)


@pytest.mark.parametrize(
    "pairs_of", [_minhash_pairs_of_identical, _cosine_pairs_of_identical],
    ids=["minhash_lsh_candidates", "cosine_near_dup_pairs_lsh"])
def test_max_bucket_caps_the_expander(spark, pairs_of):
    """Identical rows share every bucket: at the cap they expand to all
    C(n, 2) pairs, one member over it the buckets are dropped."""
    at_cap = {(r["id_a"], r["id_b"]) for r in pairs_of(spark, 5, 5).collect()}
    assert at_cap == {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert pairs_of(spark, 6, 5).count() == 0


def test_language_id_matches_python_reference(documents, spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from yirgacheffe_spark.text import quality as q

    pdf = documents.select("doc_id", "text").toPandas().sort_values("doc_id")
    want = q.language_id_batch(pdf["text"].reset_index(drop=True)).tolist()
    got_rows = (
        documents.select("doc_id", q.language_id(F.col("text")).alias("g"))
        .orderBy("doc_id").collect()
    )
    assert [r["g"] for r in got_rows] == want


def test_language_id_edge_cases(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from yirgacheffe_spark.text import quality as q

    texts = ["", None, "der und ist von", "的一是不", "the of and to the"]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    got = (
        spark.createDataFrame(pdf)
        .select("i", q.language_id(F.col("text")).alias("g"))
        .orderBy("i").collect()
    )
    assert [r["g"] for r in got] == ["en", "en", "de", "zh", "en"]


def test_brute_force_fast_equals_fold(embeddings, spark):
    qs = embeddings.limit(6).selectExpr("vec_id AS query_id", "embedding")
    fold = {(r["query_id"], r["vec_id"], r["rank"])
            for r in ann.brute_force_topk(embeddings, qs, k=7).collect()}
    fast = {(r["query_id"], r["vec_id"], r["rank"])
            for r in ann.brute_force_topk_fast(embeddings, qs, k=7).collect()}
    assert fast == fold and fold


class TestMultimodalVectorized:
    def test_features_match_per_row_reference(self, spark):
        """The batched bincount histogram must equal the per-row
        np.histogram form bit-for-bit (same edges, same normalisation)."""
        media = multimodal.synthesize_media(spark, 80)
        rows = media.collect()
        got = {
            r["media_id"]: np.asarray(r["feature"], dtype=np.float32)
            for r in multimodal.extract_features(media, decode="fake", dim=10).collect()
        }
        for r in rows:
            plane = multimodal._fake_decode_image(  # noqa: SLF001
                r["payload"], r["width"], r["height"]
            )
            hist, _ = np.histogram(plane, bins=10, range=(0, 256))
            want = (hist / (hist.sum() or 1)).astype(np.float32)
            np.testing.assert_array_equal(got[r["media_id"]], want)

    def test_resize_matches_per_row_reference(self, spark):
        media = multimodal.synthesize_media(spark, 40)
        rows = media.collect()
        got = {
            r["media_id"]: r["thumb"]
            for r in multimodal.resize(media, 7, 5, decode="fake").collect()
        }
        for r in rows:
            plane = multimodal._fake_decode_image(  # noqa: SLF001
                r["payload"], r["width"], r["height"]
            )
            h, w = int(r["height"]), int(r["width"])
            ys = (np.arange(5) * h // 5).clip(0, h - 1)
            xs = (np.arange(7) * w // 7).clip(0, w - 1)
            assert got[r["media_id"]] == plane[np.ix_(ys, xs)].tobytes()


class TestIVF:
    def test_full_probe_equals_brute_force(self, embeddings, spark):
        """n_probe == n_lists probes every list, so IVF must equal the exact
        brute-force top-k (same rounded-sim ordering and tie-break)."""
        qs = embeddings.orderBy("vec_id").limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        want = {
            (r["query_id"], r["rank"]): r["vec_id"]
            for r in ann.brute_force_topk_fast(embeddings, qs, k=5).collect()
        }
        got = {
            (r["query_id"], r["rank"]): r["vec_id"]
            for r in ann.ivf_topk(
                spark, embeddings, qs, k=5, n_lists=8, n_probe=8
            ).collect()
        }
        assert got == want

    def test_partial_probe_recall(self, embeddings, spark):
        """At n_probe = half the lists, recall@10 must stay high on the test
        corpus (standard IVF behaviour; exact bound is data-dependent)."""
        qs = embeddings.orderBy("vec_id").limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = ann.brute_force_topk_fast(embeddings, qs, k=10).collect()
        approx = ann.ivf_topk(spark, embeddings, qs, k=10, n_lists=8, n_probe=4).collect()
        t = {}
        for r in truth:
            t.setdefault(r["query_id"], set()).add(r["vec_id"])
        a = {}
        for r in approx:
            a.setdefault(r["query_id"], set()).add(r["vec_id"])
        recalls = [len(t[q] & a.get(q, set())) / len(t[q]) for q in t]
        assert sum(recalls) / len(recalls) >= 0.5, recalls

    def test_assignment_is_deterministic(self, embeddings, spark):
        cents = ann.ivf_train_centroids(embeddings, n_lists=8)
        a = {r["vec_id"]: r["list_id"]
             for r in ann.ivf_assign(embeddings, cents).select("vec_id", "list_id").collect()}
        b = {r["vec_id"]: r["list_id"]
             for r in ann.ivf_assign(embeddings.repartition(5), cents)
             .select("vec_id", "list_id").collect()}
        assert a == b
        assert len(set(a.values())) > 1


class TestConnectedComponents:
    def _union_find(self, pairs, ids):
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # normalize to min-of-component
        return {i: find(i) for i in ids}

    def test_matches_union_find_random_graph(self, spark):
        import random

        rng = random.Random(9)
        ids = list(range(200))
        pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(150)]
        pairs = [(a, b) for a, b in pairs if a != b]
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pdf).collect()
        }
        touched = sorted({x for p in pairs for x in p})
        want = self._union_find(pairs, touched)
        assert got == {i: want[i] for i in touched}

    def test_long_chain_converges(self, spark):
        # A 300-node path graph is the worst case for naive propagation;
        # pointer jumping must close it within the iteration budget.
        pairs = [(i, i + 1) for i in range(300)]
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = dedup.connected_components(pdf).collect()
        assert all(r["component"] == 0 for r in got)
        assert len(got) == 301

    def test_keep_cluster_representative(self, spark):
        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
        )
        # clusters {0,1,2} (via chain), {5,6}; 3,4,7 untouched
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"]
            for r in dedup.dedup_keep_cluster_representative(docs, pairs).collect()
        )
        assert kept == [0, 3, 4, 5, 7]


class TestSampling:
    """Deterministic content-keyed sampling: membership is a pure function
    of (key, seed) — stable under repartitioning — and mirrors the DuckDB
    md5 hex-prefix expression exactly."""

    def _docs(self, spark, n=400):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "lang": [("en", "de", "fr")[i % 3] for i in range(n)],
            "n_tokens": (np.arange(n) * 37 % 900 + 10).astype(np.int64),
        }))

    def test_salted_sample_deterministic_and_partition_invariant(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark)
        a = {r["doc_id"] for r in sampling.salted_sample(docs, 0.3, "doc_id", seed=7).collect()}
        b = {r["doc_id"] for r in sampling.salted_sample(
            docs.repartition(13), 0.3, "doc_id", seed=7).collect()}
        assert a == b
        assert 0.15 < len(a) / 400 < 0.45  # expected-fraction, not exact
        c = {r["doc_id"] for r in sampling.salted_sample(docs, 0.3, "doc_id", seed=8).collect()}
        assert a != c  # the seed matters

    def test_salted_sample_matches_duckdb_md5(self, spark):
        import duckdb

        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, 300)
        got = {r["doc_id"] for r in sampling.salted_sample(docs, 0.25, "doc_id", seed=3).collect()}
        want = {
            r[0] for r in duckdb.connect().execute(
                """SELECT i FROM range(300) t(i)
                   WHERE ('0x' || substr(md5(i || ' ' || 3), 1, 16))::UBIGINT
                         / 18446744073709551616.0 < 0.25"""
            ).fetchall()
        }
        assert got == want

    def test_stratified_and_split(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark)
        out = sampling.stratified_sample(
            docs, "lang", {"en": 1.0, "de": 0.2}, "doc_id", seed=1
        ).collect()
        langs = {r["lang"] for r in out}
        assert "fr" not in langs  # unlisted strata drop
        n_en = sum(1 for r in out if r["lang"] == "en")
        assert n_en == 134  # fraction 1.0 keeps every en row

        train, test = sampling.train_test_split(docs, 0.2, "doc_id", seed=5)
        tr = {r["doc_id"] for r in train.collect()}
        te = {r["doc_id"] for r in test.collect()}
        assert tr.isdisjoint(te) and len(tr) + len(te) == 400

    def test_pack_sequences_budget_and_coverage(self, spark):
        from pyspark.sql import functions as F

        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, 500)
        packed = sampling.pack_sequences(docs, token_budget=1000, partitions=4)
        rows = packed.collect()
        assert len(rows) == 500
        assert len({r["doc_id"] for r in rows}) == 500  # every doc exactly once
        per_bin = packed.groupBy("bin_id").agg(F.sum("n_tokens").alias("t")).collect()
        assert all(r["t"] <= 1000 for r in per_bin)
        # determinism under different input layouts
        again = sampling.pack_sequences(
            docs.repartition(11), token_budget=1000, partitions=4
        ).collect()
        assert {(r["doc_id"], r["bin_id"]) for r in again} == {
            (r["doc_id"], r["bin_id"]) for r in rows
        }

    def test_pack_default_partitions_derive_from_row_count(self, spark, monkeypatch):
        """With no explicit ``partitions``, the partition count must come
        from rows/rows-per-partition (the 100-TB safety rule), not the
        cluster parallelism: at 10 rows/partition a 500-row input must
        spread over ~50 packing partitions — more than the session's
        defaultParallelism, proving the row-count term engaged — and
        still pack correctly."""
        from pyspark.sql import functions as F

        from yirgacheffe_spark.text import sampling

        monkeypatch.setattr(sampling, "_PACK_ROWS_PER_PARTITION", 10)
        docs = self._docs(spark, 500)
        packed = sampling.pack_sequences(docs, token_budget=1000)
        rows = packed.collect()
        assert len(rows) == 500
        per_bin = packed.groupBy("bin_id").agg(F.sum("n_tokens").alias("t")).collect()
        assert all(r["t"] <= 1000 for r in per_bin)
        # bin_id's high bits carry the packing partition id: the overflow
        # row count must have engaged more partitions than defaultParallelism.
        pids = {r["bin_id"] >> 40 for r in rows}
        assert len(pids) > spark.sparkContext.defaultParallelism

    def test_pack_oversized_doc_gets_own_bin(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import sampling

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3], "n_tokens": [5000, 10, 20]}))
        rows = sampling.pack_sequences(docs, token_budget=100, partitions=1).collect()
        by_id = {r["doc_id"]: r["bin_id"] for r in rows}
        assert by_id[1] not in (by_id[2], by_id[3])
        assert by_id[2] == by_id[3]  # the two small docs co-pack


class TestNgramLM:
    """n-gram LM training + scoring vs a plain-python oracle."""

    def _corpus(self, spark):
        import pandas as pd

        texts = [
            "the cat sat on the mat",
            "the dog sat on the log",
            "the cat ate the fish",
            "a dog and a cat",
        ]
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}))

    @staticmethod
    def _py_grams(text, n):
        w = text.lower().split()
        if not w:
            return []
        if len(w) < n:
            return [" ".join(w)]
        return [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]

    def test_train_counts_match_python(self, spark):
        from collections import Counter

        from yirgacheffe_spark.text import lm

        corpus = self._corpus(spark)
        got = {r["gram"]: r["count"] for r in
               lm.train_ngram_counts(corpus, n=2).collect()}
        want = Counter()
        for t in [r["text"] for r in corpus.collect()]:
            want.update(self._py_grams(t, 2))
        assert got == dict(want)

    def test_scores_match_python(self, spark):
        import math
        from collections import Counter

        from yirgacheffe_spark.text import lm

        corpus = self._corpus(spark)
        model = lm.train_ngram_counts(corpus, n=2)
        got = {r["doc_id"]: (r["n_grams"], r["avg_logprob"]) for r in
               lm.score_documents(corpus, model, n=2, add_k=0.5).collect()}

        counts = Counter()
        for t in [r["text"] for r in corpus.collect()]:
            counts.update(self._py_grams(t, 2))
        total, vocab = sum(counts.values()), len(counts)
        denom = total + 0.5 * vocab
        for r in corpus.collect():
            grams = self._py_grams(r["text"], 2)
            want = sum(math.log((counts[g] + 0.5) / denom) for g in grams) / len(grams)
            n, avg = got[r["doc_id"]]
            assert n == len(grams)
            assert abs(avg - want) < 1e-12, r["doc_id"]

    def test_dsir_logweights_match_python(self, spark):
        """DSIR importance weights vs a full plain-python oracle: md5
        bucket hashing, add-k smoothed hashed bag models, per-doc
        log-ratio sum — to 1e-9."""
        import hashlib
        import math
        from collections import Counter

        import pandas as pd

        from yirgacheffe_spark.text import lm

        buckets, add_k = 64, 0.01
        target = self._corpus(spark)  # cats and dogs
        raw = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(4, dtype=np.int64),
            "text": ["stock market prices fell",
                     "the cat sat on the mat",
                     "buy cheap pills online now",
                     "weather report rain tomorrow"]}))

        tm = lm.train_hashed_ngram_model(target, n=2, buckets=buckets)
        rm = lm.train_hashed_ngram_model(raw, n=2, buckets=buckets)
        got = {r["doc_id"]: (r["n_grams"], r["log_weight"]) for r in
               lm.dsir_logweights(raw, tm, rm, n=2, buckets=buckets,
                                  add_k=add_k).collect()}

        def bucket(gram):
            return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % buckets

        def model(df):
            c = Counter()
            for r in df.collect():
                c.update(bucket(g) for g in self._py_grams(r["text"], 2))
            return c

        tc, rc = model(target), model(raw)
        t_den = sum(tc.values()) + add_k * buckets
        r_den = sum(rc.values()) + add_k * buckets
        for r in raw.collect():
            grams = [bucket(g) for g in self._py_grams(r["text"], 2)]
            want = sum(
                math.log((tc.get(b, 0) + add_k) / t_den)
                - math.log((rc.get(b, 0) + add_k) / r_den)
                for b in grams
            )
            n, w = got[r["doc_id"]]
            assert n == len(grams)
            assert abs(w - want) < 1e-9, r["doc_id"]

    def test_dsir_select_gumbel_topk_matches_python_and_partitioning(self, spark):
        """The Gumbel-top-k selection reproduces the python oracle (same
        md5-unit noise) and is invariant under repartitioning."""
        import hashlib
        import math

        import pandas as pd

        from yirgacheffe_spark.text import lm

        buckets, seed, k = 64, 7, 3
        target = self._corpus(spark)
        texts = ["the cat sat on the mat",          # in-domain
                 "a dog and a cat sat",             # in-domain
                 "stock market prices fell today",  # off-domain
                 "buy cheap pills online now",      # off-domain
                 "the dog ate the fish",            # in-domain
                 "weather report rain tomorrow"]    # off-domain
        raw = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}))
        tm = lm.train_hashed_ngram_model(target, n=2, buckets=buckets)
        rm = lm.train_hashed_ngram_model(raw, n=2, buckets=buckets)

        got = sorted(r["doc_id"] for r in lm.dsir_select(
            raw, tm, rm, k=k, n=2, buckets=buckets, seed=seed).collect())
        got_repart = sorted(r["doc_id"] for r in lm.dsir_select(
            raw.repartition(7), tm, rm, k=k, n=2, buckets=buckets,
            seed=seed).collect())
        assert got == got_repart

        weights = {r["doc_id"]: r["log_weight"] for r in lm.dsir_logweights(
            raw, tm, rm, n=2, buckets=buckets).collect()}

        def gumbel(doc_id):
            h = hashlib.md5(f"{doc_id} {seed}".encode()).hexdigest()[:16]
            u = int(h, 16) / 2.0**64
            return -math.log(-math.log(u))

        keyed = sorted(((weights[d] + gumbel(d), d) for d in weights),
                       key=lambda t: (-t[0], t[1]))
        want = sorted(d for _, d in keyed[:k])
        assert got == want

    def test_dsir_select_prefers_target_like_documents(self, spark):
        """Statistical sanity: with many repetitions, in-domain documents
        dominate the selection (importance weights do their job)."""
        import pandas as pd

        from yirgacheffe_spark.text import lm

        target = self._corpus(spark)
        rows = []
        for i in range(40):
            rows.append((i, "the cat sat on the mat and the dog sat"))
            rows.append((100 + i, "qqq zzz stock ticker pump dump spam"))
        raw = spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.array([r[0] for r in rows], dtype=np.int64),
             "text": [r[1] for r in rows]}))
        tm = lm.train_hashed_ngram_model(target, n=2, buckets=512)
        rm = lm.train_hashed_ngram_model(raw, n=2, buckets=512)
        chosen = [r["doc_id"] for r in lm.dsir_select(
            raw, tm, rm, k=20, n=2, buckets=512, seed=1).collect()]
        in_domain = sum(1 for d in chosen if d < 100)
        assert in_domain >= 18

    def test_quality_filter_keeps_fluent_docs(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import lm

        corpus = self._corpus(spark)
        model = lm.train_ngram_counts(corpus, n=2)
        cands = spark.createDataFrame(pd.DataFrame({
            "doc_id": [100, 101],
            "text": ["the cat sat on the mat",          # in-domain
                     "zxqv wvut qqpl mnbv xswz aqrt"],  # gibberish
        }))
        kept = [r["doc_id"] for r in lm.quality_filter_by_lm(
            cands, model, n=2, min_avg_logprob=-3.0).collect()]
        assert kept == [100]

    def test_short_and_empty_documents(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import lm

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1, 2], "text": ["single", "", "two words here"]}))
        counts = {r["gram"]: r["count"] for r in
                  lm.train_ngram_counts(docs, n=3).collect()}
        # short-doc rule: whole sequence as one gram; empty contributes none
        assert counts == {"single": 1, "two words here": 1}


class TestBoilerplateRemoval:
    """Line-level dedup: corpus-frequent lines strip, prose survives with
    order preserved — differential vs a plain-Python oracle."""

    def _corpus(self, spark, n=40):
        import pandas as pd

        docs = []
        for i in range(n):
            lines = [
                "COOKIE BANNER: accept all",          # in every doc
                f"unique prose line {i} alpha",
                "nav: home | about | contact",        # in every doc
                f"unique prose line {i} beta",
            ]
            if i % 2 == 0:
                lines.append("even-doc promo footer")  # in half the docs
            docs.append("\n".join(lines))
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64), "text": docs}))

    def test_matches_python_oracle(self, spark):
        from collections import Counter

        from yirgacheffe_spark.text import dedup

        docs = self._corpus(spark)
        rows = {r["doc_id"]: r["text"] for r in docs.collect()}
        got = {r["doc_id"]: r["text"] for r in
               dedup.remove_boilerplate_lines(docs, min_docs=3).collect()}

        freq = Counter()
        for t in rows.values():
            for line in {l.strip() for l in t.split("\n") if l.strip()}:
                freq[line] += 1
        for did, t in rows.items():
            want = "\n".join(
                l for l in t.split("\n")
                if l.strip() and freq[l.strip()] < 3
            )
            assert got[did] == want, did

    def test_all_boilerplate_doc_keeps_empty_text(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import dedup

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1, 2, 3],
            "text": ["same line"] * 3 + ["same line\nplus prose"]}))
        got = {r["doc_id"]: r["text"] for r in
               dedup.remove_boilerplate_lines(docs, min_docs=3).collect()}
        assert got[0] == "" and got[1] == "" and got[2] == ""
        assert got[3] == "plus prose"

    def test_plan_is_broadcast_and_python_free(self, spark):
        from yirgacheffe_spark.text import dedup

        docs = self._corpus(spark)
        plan = dedup.remove_boilerplate_lines(docs, min_docs=3)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_auto_strategy_small_hot_set_broadcasts(self, spark):
        from yirgacheffe_spark.text import dedup

        docs = self._corpus(spark)
        plan = dedup.remove_boilerplate_lines(docs, min_docs=3)._jdf.queryExecution(
        ).executedPlan().toString()
        anti = [l for l in plan.splitlines() if "LeftAnti" in l]
        assert anti and all("Broadcast" in l for l in anti), anti

    def test_auto_strategy_big_hot_set_shuffles(self, spark, monkeypatch):
        """Above the hot-set budget the anti-join must NOT broadcast (the
        100-TB default-safety guard): force the threshold to 0 and assert
        the plan takes the shuffle path, with results unchanged."""
        from yirgacheffe_spark.text import dedup

        monkeypatch.setattr(dedup, "_BROADCAST_MAX_ROWS", 0)
        docs = self._corpus(spark)
        cleaned = dedup.remove_boilerplate_lines(docs, min_docs=3)
        plan = cleaned._jdf.queryExecution().executedPlan().toString()
        anti = [l for l in plan.splitlines() if "LeftAnti" in l]
        assert anti and all("Broadcast" not in l for l in anti), anti
        monkeypatch.undo()
        want = {r["doc_id"]: r["text"] for r in
                dedup.remove_boilerplate_lines(docs, min_docs=3).collect()}
        got = {r["doc_id"]: r["text"] for r in cleaned.collect()}
        assert got == want


class TestIncrementalDedup:
    """Append-mode dedup: a new batch against a stored signature index must
    find exactly the cross pairs the full-corpus batch path finds."""

    def _corpora(self, spark):
        import pandas as pd

        base = [
            "the quick brown fox jumps over the lazy dog again and again",
            "pack my box with five dozen liquor jugs for the journey home",
            "sphinx of black quartz judge my vow before the winter comes",
        ]
        index_texts = [t + f" tail {i}" for i, t in enumerate(base * 3)]
        new_texts = [
            base[0] + " tail 0",          # near-dup of index doc 0
            "a completely different document about distributed systems",
            base[2] + " tail 2",          # near-dup of index doc 2
        ]
        index = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(len(index_texts), dtype=np.int64),
            "text": index_texts}))
        new = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(1000, 1000 + len(new_texts), dtype=np.int64),
            "text": new_texts}))
        return new, index

    def test_cross_candidates_match_full_batch_path(self, spark):
        from yirgacheffe_spark.text import dedup

        new, index = self._corpora(spark)
        idx_sigs = dedup.minhash_signatures(index, bands=16)
        new_sigs = dedup.minhash_signatures(new, bands=16)
        got = {(r["id_new"], r["id_idx"]) for r in
               dedup.minhash_lsh_candidates_incremental(new_sigs, idx_sigs).collect()}

        # oracle: full-corpus candidates restricted to cross pairs
        union = new.unionByName(index)
        full = dedup.minhash_lsh_candidates(
            dedup.minhash_signatures(union, bands=16), "doc_id", bands=16
        ).collect()
        want = set()
        for r in full:
            a, b = r["id_a"], r["id_b"]
            if (a >= 1000) != (b >= 1000):
                want.add((max(a, b), min(a, b)))
        assert got == want and len(got) >= 2

    def test_dedup_against_index_keeps_only_fresh(self, spark):
        from yirgacheffe_spark.text import dedup

        new, index = self._corpora(spark)
        idx_sigs = dedup.minhash_signatures(index, bands=16)
        kept = [r["doc_id"] for r in dedup.minhash_dedup_against_index(
            new, idx_sigs, index, threshold=0.8).collect()]
        assert kept == [1001]  # only the genuinely new document survives


def test_leakage_safe_split_keeps_components_together(spark):
    import pandas as pd

    from yirgacheffe_spark.text import sampling

    n = 300
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64)}))
    # chains 0-1-2, 3-4, and many singletons
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [0, 1, 3] + [10 + 2 * i for i in range(40)],
        "id_b": [1, 2, 4] + [11 + 2 * i for i in range(40)]}))
    train, test = sampling.leakage_safe_split(docs, pairs, 0.4, seed=2)
    tr = {r["doc_id"] for r in train.collect()}
    te = {r["doc_id"] for r in test.collect()}
    assert tr.isdisjoint(te) and len(tr) + len(te) == n
    for comp in ([0, 1, 2], [3, 4], *[[10 + 2 * i, 11 + 2 * i] for i in range(40)]):
        sides = {m in te for m in comp}
        assert len(sides) == 1, comp  # whole component on one side
    assert 0.2 < len(te) / n < 0.6


def test_redact_pii_and_counts(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from yirgacheffe_spark.text import quality

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "contact me at jane.doe@site.example or +1 (555) 123-4567 ok",
            "server at 192.168.10.20 and backup at 10.0.0.1 online",
            "no personal data in this sentence at all",
        ]}))
    out = {r["doc_id"]: r["clean"] for r in docs.select(
        "doc_id", quality.redact_pii(F.col("text")).alias("clean")).collect()}
    assert out[0] == "contact me at <EMAIL> or <PHONE> ok"
    assert out[1] == "server at <IP> and backup at <IP> online"
    assert out[2] == "no personal data in this sentence at all"

    counts = {r["doc_id"]: r["c"].asDict() for r in docs.select(
        "doc_id", quality.pii_counts(F.col("text")).alias("c")).collect()}
    assert counts[0] == {"n_email": 1, "n_ip": 0, "n_phone": 1}
    assert counts[1] == {"n_email": 0, "n_ip": 2, "n_phone": 0}
    assert counts[2] == {"n_email": 0, "n_ip": 0, "n_phone": 0}


def test_curate_corpus_full_pipeline(spark):
    """The one-call curation pipeline: every stage fires, the report counts
    are monotone non-increasing, and each stage's effect is visible."""
    import pandas as pd

    from yirgacheffe_spark.text import pipeline

    prose = ("the quick brown fox jumps over the lazy dog and keeps running "
             "through the quiet field while the sun rises slowly over it")
    rows = []
    for i in range(30):
        tail = " ".join(f"topic{i} word{i} item{j}" for j in range(4))
        rows.append((i, "en", f"{prose} {tail}\nshared cookie banner line"))
    rows.append((100, "en", rows[0][2]))           # exact dup of doc 0
    # near-dup of doc 0: same prose + same tail, one word changed
    rows.append((101, "en", rows[0][2].split("\n")[0] + " extra"))
    rows.append((102, "en", "!!! ??? ,,, ;;;"))    # junk -> quality floor
    rows.append((103, "de", f"{prose} germanish {0}\nshared cookie banner line"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    )

    curated, report = pipeline.curate_corpus(
        docs,
        boilerplate_min_docs=3,
        min_quality=0.05,
        near_dup_threshold=0.8,
        lang_fractions={"en": 1.0},  # drop non-en
    )
    counts = dict(report)
    assert counts["input"] == 34
    assert counts["exact_dedup"] == 33           # doc 100 collapses
    assert counts["boilerplate_removal"] == 33   # row-preserving
    assert counts["quality_floor"] == 32         # junk drops
    assert counts["near_dup_cluster_dedup"] == 31  # 101 collapses into 0
    assert counts["language_sampling"] == 30     # de drops
    vals = [n for _, n in report]
    assert vals == sorted(vals, reverse=True)

    out = curated.collect()
    assert {r["doc_id"] for r in out} == set(range(30))
    assert all("cookie banner" not in r["text"] for r in out)

    # report off -> single lazy plan, no counting jobs
    lazy, rep = pipeline.curate_corpus(docs, with_report=False)
    assert rep is None and lazy.count() > 0


def test_curate_corpus_selection_stages(spark):
    """The round-5 optional stages: classifier filter, DSIR selection, and
    the token-budget cap compose with the base pipeline and fire in order."""
    import pandas as pd

    from yirgacheffe_spark.text import classifier, lm, pipeline

    good = ("the committee published a thorough report on local research "
            "and community programs across the region this year")
    spam = "buy cheap pills casino jackpot click now free bonus spins win"
    rows = []
    for i in range(20):
        rows.append((i, "en", f"{good} extra{i} unique{i}", 1))
    for i in range(20, 40):
        rows.append((i, "en", f"{spam} extra{i} unique{i}", 0))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "text", "label"])
    ).withColumn("n_tokens", F.size(F.split("text", r"\s+")))

    model = classifier.train_quality_classifier(
        docs.select("text", "label"), num_features=1 << 12)
    target = docs.where(F.col("label") == 1)
    tm = lm.train_hashed_ngram_model(target, n=2, buckets=512)
    rm = lm.train_hashed_ngram_model(docs, n=2, buckets=512)

    curated, report = pipeline.curate_corpus(
        docs.drop("label"),
        boilerplate_min_docs=None,
        min_quality=None,
        near_dup_threshold=None,
        classifier_model=model,
        classifier_threshold=0.5,
        dsir_target_model=tm,
        dsir_raw_model=rm,
        dsir_k=10,
        dsir_buckets=512,
        token_budget=120,
        tokens_col="n_tokens",
    )
    counts = dict(report)
    assert counts["classifier_filter"] == 20        # spam half drops
    assert counts["dsir_selection"] == 10
    assert counts["token_budget_cap"] <= 10
    out = curated.collect()
    assert all(r["doc_id"] < 20 for r in out)       # only good docs survive
    assert sum(r["n_tokens"] for r in out) >= 120   # budget reached

    import pytest as _pt

    with _pt.raises(ValueError, match="dsir_k"):
        pipeline.curate_corpus(docs.drop("label"), dsir_k=5,
                               with_report=False)
    with _pt.raises(ValueError, match="tokens_col"):
        pipeline.curate_corpus(docs.drop("label"), token_budget=100,
                               with_report=False)


class TestCurationEdgeCases:
    """Empty corpora and null keys must flow through the curation stack
    without crashing or silently mislabeling."""

    def _empty(self, spark):
        return spark.createDataFrame(
            [], "doc_id long, lang string, text string, n_tokens long"
        )

    def test_empty_corpus_flows_through(self, spark):
        from yirgacheffe_spark.text import dedup, pipeline, sampling

        empty = self._empty(spark)
        assert dedup.remove_boilerplate_lines(empty).count() == 0
        assert sampling.salted_sample(empty, 0.5, "doc_id").count() == 0
        assert sampling.pack_sequences(empty, 100).count() == 0
        curated, report = pipeline.curate_corpus(empty, lang_fractions={"en": 1.0})
        assert curated.count() == 0
        assert all(n == 0 for _, n in report)

    def test_null_sample_keys_drop_not_crash(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import sampling

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": pd.array([1, None, 3], dtype="Int64")}))
        out = sampling.salted_sample(docs, 1.0, "doc_id")
        # fraction 1.0 keeps every NON-NULL key; null hashes to null -> drops
        assert {r["doc_id"] for r in out.collect()} == {1, 3}

    def test_incremental_dedup_empty_index(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import dedup

        new = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": ["totally new document with words"]}))
        empty_sigs = dedup.minhash_signatures(
            spark.createDataFrame([], "doc_id long, text string"), bands=16)
        out = dedup.minhash_lsh_candidates_incremental(
            dedup.minhash_signatures(new, bands=16), empty_sigs)
        assert out.count() == 0


def test_pii_counts_ignore_preexisting_tags(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from yirgacheffe_spark.text import quality

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0],
        "text": ["see <IP> note 10.0.0.1 and literal <EMAIL> too"]}))
    c = docs.select(quality.pii_counts(F.col("text")).alias("c")).collect()[0]["c"]
    assert c.asDict() == {"n_email": 0, "n_ip": 1, "n_phone": 0}


def test_score_documents_keeps_zero_gram_rows(spark):
    import pandas as pd

    from yirgacheffe_spark.text import lm

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["real words in here", ""]}))
    model = lm.train_ngram_counts(docs, n=2)
    got = {r["doc_id"]: (r["n_grams"], r["avg_logprob"]) for r in
           lm.score_documents(docs, model, n=2).collect()}
    assert set(got) == {0, 1}
    assert got[1] == (0, None)  # empty doc present with NULL score
    assert got[0][0] > 0 and got[0][1] is not None


class TestSignatureIndexVersioning:
    """A stored signature index signed by a different bucket derivation
    joins to zero candidates — silent duplicate admission — so the
    incremental path must refuse unversioned or mismatched indexes."""

    def _sigs(self, spark):
        import pandas as pd

        from yirgacheffe_spark.text import dedup

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2], "text": ["alpha beta gamma delta epsilon"] * 2}))
        return dedup.minhash_signatures(docs, "text", "doc_id",
                                        num_perm=16, bands=4)

    def test_signatures_carry_format_tag(self, spark):
        from yirgacheffe_spark.text import dedup

        sigs = self._sigs(spark)
        assert "sig_format" in sigs.columns
        vals = {r["sig_format"] for r in sigs.select("sig_format").collect()}
        assert vals == {dedup.MINHASH_SIG_FORMAT}

    def test_unversioned_index_refused(self, spark):
        import pytest as _pt

        from yirgacheffe_spark.text import dedup

        sigs = self._sigs(spark)
        legacy = sigs.drop("sig_format")
        with _pt.raises(ValueError, match="sig_format"):
            dedup.minhash_lsh_candidates_incremental(sigs, legacy)
        with _pt.raises(ValueError, match="buckets"):
            dedup.minhash_lsh_candidates(sigs.drop("buckets"))

    def test_mismatched_format_refused(self, spark):
        import pytest as _pt
        from pyspark.sql import functions as F

        from yirgacheffe_spark.text import dedup

        sigs = self._sigs(spark)
        stale = sigs.withColumn("sig_format", F.lit("mh1-legacy"))
        with _pt.raises(ValueError, match="mh1-legacy"):
            dedup.minhash_lsh_candidates_incremental(sigs, stale)


class TestDecontamination:
    """Eval-set decontamination (GPT-3/Gopher n-gram overlap rule) vs a
    plain-Python oracle."""

    def _corpora(self, spark):
        import pandas as pd

        train = [
            "the quick brown fox jumps over the lazy dog near the river bank",
            "pack my box with five dozen liquor jugs before the long journey",
            "what is the capital of france and when was it founded exactly",   # contaminated
            "sphinx of black quartz judge my vow under the winter moonlight",
            "tiny doc",                                                        # < n words
            "completely benign training text about spark shuffle partitions",
        ]
        evals = [
            "quiz: what is the capital of france and when was it founded exactly?",
            "tiny doc",
            "unrelated benchmark prompt about astronomy and orbital mechanics",
        ]
        t = spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.arange(len(train), dtype=np.int64), "text": train}))
        e = spark.createDataFrame(pd.DataFrame(
            {"eval_id": np.arange(len(evals), dtype=np.int64), "text": evals}))
        return t, e, train, evals

    @staticmethod
    def _grams(text, n):
        w = text.lower().split()
        if 0 < len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    def test_matches_python_oracle(self, spark):
        from yirgacheffe_spark.text import dedup

        t, e, train, evals = self._corpora(spark)
        n = 5
        eval_grams = set().union(*(self._grams(x, n) for x in evals))
        want_bad = {i for i, x in enumerate(train)
                    if self._grams(x, n) & eval_grams}
        got_bad = {r["doc_id"] for r in
                   dedup.contaminated_ids(t, e, n=n).collect()}
        assert got_bad == want_bad and want_bad  # oracle must fire
        kept = {r["doc_id"] for r in dedup.decontaminate(t, e, n=n).collect()}
        assert kept == set(range(len(train))) - want_bad

    def test_short_doc_whole_text_rule(self, spark):
        """A training doc shorter than n words matches the eval set iff its
        whole word sequence appears there as a gram (lm.ngram_column rule —
        'tiny doc' is contaminated even at n=13)."""
        from yirgacheffe_spark.text import dedup

        t, e, train, _ = self._corpora(spark)
        bad = {r["doc_id"]: r["n_hits"] for r in
               dedup.contaminated_ids(t, e, n=13).collect()}
        assert bad.get(4) == 1  # "tiny doc"

    def test_min_hits_threshold(self, spark):
        from yirgacheffe_spark.text import dedup

        t, e, train, evals = self._corpora(spark)
        n = 5
        eval_grams = set().union(*(self._grams(x, n) for x in evals))
        hits = {i: len(self._grams(x, n) & eval_grams)
                for i, x in enumerate(train)}
        thresh = 2
        want = {i for i, h in hits.items() if h >= thresh}
        got = {r["doc_id"] for r in
               dedup.contaminated_ids(t, e, n=n, min_hits=thresh).collect()}
        assert got == want

    def test_empty_eval_is_noop(self, spark):
        from yirgacheffe_spark.text import dedup

        t, e, train, _ = self._corpora(spark)
        empty = e.where("eval_id < 0")
        assert dedup.decontaminate(t, empty, n=5).count() == len(train)

    def test_plan_broadcast_guard(self, spark, monkeypatch):
        from yirgacheffe_spark.text import dedup

        t, e, *_ = self._corpora(spark)
        plan = dedup.contaminated_ids(t, e, n=5)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        monkeypatch.setattr(dedup, "_BROADCAST_MAX_ROWS", 0)
        cold = dedup.contaminated_ids(t, e, n=5)
        plan2 = cold._jdf.queryExecution().executedPlan().toString()
        inner = [l for l in plan2.splitlines()
                 if "Join" in l and "_g#" in l]
        assert inner and all("Broadcast" not in l for l in inner), inner


class TestSemanticDedup:
    """SemDeDup cluster-bounded semantic dedup vs a python mirror of the
    pinned smaller-id-neighbour rule."""

    def _emb(self, spark, n=160, dim=12):
        rng = np.random.default_rng(41)
        base = rng.normal(size=(n, dim))
        # plant near-duplicates: every 8th vector is a tiny perturbation of
        # its predecessor
        for i in range(8, n, 8):
            base[i] = base[i - 1] + rng.normal(scale=1e-3, size=dim)
        pdf = pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float64).tolist() for row in base],
        })
        return spark.createDataFrame(pdf), base

    def _oracle(self, base, assign, threshold):
        mat = base / np.maximum(
            np.linalg.norm(base, axis=1, keepdims=True), 1e-12)
        keep = []
        for i in range(len(mat)):
            same = [j for j in range(i) if assign[j] == assign[i]]
            if not any(float(mat[i] @ mat[j]) >= threshold for j in same):
                keep.append(i)
        return set(keep)

    def test_matches_rule_oracle(self, spark):
        from yirgacheffe_spark.text import ann

        df, base = self._emb(spark)
        cents = ann.ivf_train_centroids(df, n_lists=6, sample=160)
        assigned = {r["vec_id"]: r["list_id"]
                    for r in ann.ivf_assign(df, cents).collect()}
        assign = np.array([assigned[i] for i in range(len(base))])
        for thr in (0.999, 0.9):
            got = {r["vec_id"] for r in ann.semantic_dedup(
                df, threshold=thr, centroids=cents).collect()}
            assert got == self._oracle(base, assign, thr), thr

    def test_chunking_invariant(self, spark):
        from yirgacheffe_spark.text import ann

        df, base = self._emb(spark, n=100)
        cents = ann.ivf_train_centroids(df, n_lists=3, sample=100)
        a = {r["vec_id"] for r in ann.semantic_dedup(
            df, 0.95, centroids=cents, chunk=7).collect()}
        b = {r["vec_id"] for r in ann.semantic_dedup(
            df, 0.95, centroids=cents, chunk=4096).collect()}
        assert a == b and a  # chunk size never changes results

    def test_planted_duplicates_removed(self, spark):
        from yirgacheffe_spark.text import ann

        df, base = self._emb(spark)
        kept = {r["vec_id"] for r in ann.semantic_dedup(
            df, threshold=0.999, n_lists=4).collect()}
        # planted near-dups (every 8th) should mostly vanish; their
        # predecessors stay
        planted = set(range(8, 160, 8))
        assert len(planted & kept) <= 2      # boundary-straddle tolerance
        assert all((i - 1) in kept for i in planted)


def test_dedup_lines_within_doc(spark):
    from yirgacheffe_spark.text import dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["a line\nb line\na line\nc line\nb line",
                 "only\nunique\nlines"]}))
    got = {r["doc_id"]: r["text"]
           for r in dedup.dedup_lines_within_doc(docs).collect()}
    assert got[1] == "a line\nb line\nc line"
    assert got[2] == "only\nunique\nlines"
    plan = dedup.dedup_lines_within_doc(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestQualityClassifier:
    """fastText-style hashed-n-gram logistic quality classifier: a
    pyspark.ml pipeline (tokenize -> bigrams -> HashingTF -> logistic
    regression), trained on a separable synthetic seed set."""

    _GOOD = ["the quick brown fox jumps over the lazy dog",
             "scientific research shows promising results in medicine",
             "the committee published its annual report yesterday",
             "a thorough analysis of the historical evidence follows",
             "local libraries expand their community reading programs"]
    _BAD = ["buy cheap pills viagra casino jackpot win now",
            "click here free money casino jackpot bonus spins",
            "hot singles near you click subscribe now free",
            "lottery winner claim prize casino bonus click now",
            "cheap replica watches free shipping buy buy buy"]

    def _labeled(self, spark, reps=6):
        rows = []
        i = 0
        for _ in range(reps):
            for t in self._GOOD:
                rows.append((i, t, 1)); i += 1
            for t in self._BAD:
                rows.append((i, t, 0)); i += 1
        return spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.array([r[0] for r in rows], dtype=np.int64),
             "text": [r[1] for r in rows],
             "label": np.array([r[2] for r in rows], dtype=np.int64)}))

    def test_train_score_filter_separable(self, spark):
        from yirgacheffe_spark.text import classifier

        labeled = self._labeled(spark)
        model = classifier.train_quality_classifier(
            labeled, num_features=1 << 12)
        held = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(4, dtype=np.int64),
            "text": ["the fox jumps over the dog and the committee report",
                     "research analysis of historical evidence programs",
                     "casino jackpot free bonus click now win pills",
                     "buy cheap replica pills free shipping now"]}))
        scored = {r["doc_id"]: r["quality_prob"]
                  for r in classifier.score_quality(held, model).collect()}
        assert scored[0] > 0.8 and scored[1] > 0.8
        assert scored[2] < 0.2 and scored[3] < 0.2

        kept = sorted(r["doc_id"] for r in classifier.quality_classifier_filter(
            held, model, threshold=0.5).collect())
        assert kept == [0, 1]
        # input schema preserved, no pipeline intermediates leak
        cols = classifier.quality_classifier_filter(held, model).columns
        assert cols == ["doc_id", "text"]

    def test_score_plan_is_shuffle_and_python_free(self, spark):
        from yirgacheffe_spark.text import classifier

        model = classifier.train_quality_classifier(
            self._labeled(spark), num_features=1 << 12)
        held = spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.arange(2, dtype=np.int64),
             "text": ["a b", "c d"]}))
        plan = classifier.score_quality(held, model)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan

    def test_model_save_load_round_trip(self, spark, tmp_path):
        from pyspark.ml import PipelineModel

        from yirgacheffe_spark.text import classifier

        labeled = self._labeled(spark)
        model = classifier.train_quality_classifier(
            labeled, num_features=1 << 12)
        p = str(tmp_path / "qmodel")
        model.write().overwrite().save(p)
        loaded = PipelineModel.load(p)
        a = {r["doc_id"]: r["quality_prob"]
             for r in classifier.score_quality(labeled, model).collect()}
        b = {r["doc_id"]: r["quality_prob"]
             for r in classifier.score_quality(labeled, loaded).collect()}
        assert a == b

    def test_bad_threshold_raises(self, spark):
        import pytest as _pt

        from yirgacheffe_spark.text import classifier

        with _pt.raises(ValueError, match="threshold"):
            classifier.quality_classifier_filter(None, None, threshold=1.5)


class TestBloomFilter:
    """Distributed Bloom build/probe + index-backed exact dedup routing."""

    def _keys(self, spark, n, offset=0):
        return spark.range(offset, offset + n).selectExpr(
            "concat('key-', id) AS k")

    def test_no_false_negatives(self, spark):
        from yirgacheffe_spark.text import bloom

        m, k = bloom.bloom_parameters(500, fpp=0.01)
        keys = self._keys(spark, 500)
        bf = bloom.BloomFilter.build(keys, "k", m, k)
        misses = keys.where(~bf.might_contain(F.col("k"))).count()
        assert misses == 0  # the defining guarantee

    def test_fpp_within_tolerance(self, spark):
        from yirgacheffe_spark.text import bloom

        m, k = bloom.bloom_parameters(1000, fpp=0.01)
        bf = bloom.BloomFilter.build(self._keys(spark, 1000), "k", m, k)
        others = self._keys(spark, 5000, offset=10_000)
        fp = others.where(bf.might_contain(F.col("k"))).count()
        assert fp / 5000 < 0.05  # nominal 1%, generous bound

    def test_save_load_round_trip_and_format_guard(self, spark, tmp_path):
        from yirgacheffe_spark.text import bloom

        m, k = bloom.bloom_parameters(200, fpp=0.05)
        bf = bloom.BloomFilter.build(self._keys(spark, 200), "k", m, k)
        p = str(tmp_path / "bloom")
        bf.save(spark, p)
        loaded = bloom.BloomFilter.load(spark, p)
        assert np.array_equal(loaded.words, bf.words)
        assert (loaded.num_bits, loaded.num_hashes) == (m, k)

        bad = spark.read.parquet(p).withColumn(
            "format", F.lit("ygbloom-v0"))
        p2 = str(tmp_path / "bloom_old")
        bad.write.parquet(p2)
        with pytest.raises(ValueError, match="format"):
            bloom.BloomFilter.load(spark, p2)

    def test_exact_dedup_against_index_differential(self, spark):
        """The bloom-routed dedup equals the plain anti-join exactly,
        even with a deliberately tiny (high-fpp) bloom — the filter only
        routes rows, never decides membership."""
        from yirgacheffe_spark.text import bloom

        texts = [f"document number {i} body text" for i in range(60)]
        new = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(60, dtype=np.int64), "text": texts}))
        # index contains every third document's hash
        index = new.where(F.col("doc_id") % 3 == 0).select(
            F.xxhash64("text").alias("content_hash"))

        plain = sorted(r["doc_id"] for r in bloom.exact_dedup_against_index(
            new, index).collect())
        assert plain == sorted(i for i in range(60) if i % 3 != 0)

        for num_bits, k in [(64, 2), (1024, 5)]:  # saturated and roomy
            bf = bloom.BloomFilter.build(index, "content_hash", num_bits, k)
            routed = sorted(r["doc_id"] for r in bloom.exact_dedup_against_index(
                new, index, bloom=bf).collect())
            assert routed == plain, (num_bits, k)

    def test_parameter_formulas_and_validation(self):
        from yirgacheffe_spark.text import bloom

        m, k = bloom.bloom_parameters(1_000_000, fpp=0.01)
        assert m % 64 == 0 and 9_500_000 < m < 9_700_000 and k == 7
        with pytest.raises(ValueError, match="expected_items"):
            bloom.bloom_parameters(0)
        with pytest.raises(ValueError, match="fpp"):
            bloom.bloom_parameters(10, fpp=1.5)


class TestTokenBudgetSampling:
    """Deterministic token-budget sampling + domain mixture."""

    def _docs(self, spark, n=200, seed=3):
        rng = np.random.default_rng(seed)
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "n_tokens": rng.integers(50, 500, n),
            "domain": [["web", "code", "books"][i % 3] for i in range(n)],
        }))

    @staticmethod
    def _unit(doc_id, seed):
        import hashlib

        return int(hashlib.md5(f"{doc_id} {seed}".encode())
                   .hexdigest()[:16], 16) / 2.0**64

    def test_exact_matches_python_oracle(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark)
        budget, seed = 10_000, 4
        got = sorted(r["doc_id"] for r in sampling.sample_token_budget(
            docs, budget, seed=seed).collect())

        rows = sorted(docs.collect(),
                      key=lambda r: (self._unit(r["doc_id"], seed), r["doc_id"]))
        want, cum = [], 0
        for r in rows:
            if cum >= budget:
                break
            want.append(r["doc_id"])
            cum += r["n_tokens"]
        assert got == sorted(want)
        # budget reached, overshoot at most one document
        tok = {r["doc_id"]: r["n_tokens"] for r in rows}
        total = sum(tok[d] for d in got)
        assert total >= budget and total - max(tok[d] for d in got) < budget

    def test_budget_growth_is_superset_and_partition_invariant(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark)
        small = {r["doc_id"] for r in sampling.sample_token_budget(
            docs, 5_000, seed=1).collect()}
        large = {r["doc_id"] for r in sampling.sample_token_budget(
            docs, 20_000, seed=1).collect()}
        assert small < large
        repart = {r["doc_id"] for r in sampling.sample_token_budget(
            docs.repartition(7), 5_000, seed=1).collect()}
        assert repart == small

    def test_fast_path_is_threshold_filter(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark)
        total = sum(r["n_tokens"] for r in docs.collect())
        budget = 8_000
        got = {r["doc_id"] for r in sampling.sample_token_budget(
            docs, budget, seed=2, exact=False).collect()}
        t = budget / total
        want = {r["doc_id"] for r in docs.collect()
                if self._unit(r["doc_id"], 2) < t}
        assert got == want

    def test_budget_covers_whole_corpus(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, n=20)
        assert sampling.sample_token_budget(docs, 10**9).count() == 20

    def test_mix_corpus_quotas_and_determinism(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, n=600)
        weights = {"web": 0.6, "code": 0.4}  # books dropped
        out = sampling.mix_corpus(docs, "domain", weights, 40_000, seed=5)
        rows = out.collect()
        assert {r["domain"] for r in rows} <= {"web", "code"}
        by_dom = {}
        for r in rows:
            by_dom[r["domain"]] = by_dom.get(r["domain"], 0) + r["n_tokens"]
        # expected-size sampling: each domain lands near its quota
        assert abs(by_dom["web"] - 24_000) / 24_000 < 0.35
        assert abs(by_dom["code"] - 16_000) / 16_000 < 0.35
        again = sorted(r["doc_id"] for r in sampling.mix_corpus(
            docs.repartition(9), "domain", weights, 40_000, seed=5).collect())
        assert again == sorted(r["doc_id"] for r in rows)

    def test_mix_small_domain_contributes_everything(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, n=60)
        out = sampling.mix_corpus(
            docs, "domain", {"web": 0.01, "code": 0.99}, 10**8, seed=0)
        n_code = out.where(F.col("domain") == "code").count()
        assert n_code == docs.where(F.col("domain") == "code").count()

    def test_validation(self, spark):
        from yirgacheffe_spark.text import sampling

        docs = self._docs(spark, n=5)
        with pytest.raises(ValueError, match="token_budget"):
            sampling.sample_token_budget(docs, 0)
        with pytest.raises(ValueError, match="weights"):
            sampling.mix_corpus(docs, "domain", {}, 100)
        with pytest.raises(ValueError, match="weights"):
            sampling.mix_corpus(docs, "domain", {"web": -1.0}, 100)


def test_sample_token_budget_skewed_band_widens(spark):
    """Heavy token skew: the 1.25x hash band may miss the budget; the
    widening loop must still deliver the hash-prefix-rule sample instead
    of silently undershooting."""
    import hashlib

    from yirgacheffe_spark.text import sampling

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(11, dtype=np.int64),
        "n_tokens": np.array([1] * 10 + [1_000_000], dtype=np.int64),
    }))
    got = sorted(r["doc_id"] for r in sampling.sample_token_budget(
        docs, 5, seed=6).collect())

    def unit(d):
        return int(hashlib.md5(f"{d} 6".encode()).hexdigest()[:16], 16) / 2.0**64

    rows = sorted(docs.collect(), key=lambda r: (unit(r["doc_id"]), r["doc_id"]))
    want, cum = [], 0
    for r in rows:
        if cum >= 5:
            break
        want.append(r["doc_id"])
        cum += r["n_tokens"]
    assert got == sorted(want) and got  # non-empty, oracle-exact


def test_classifier_handles_null_text_and_reserved_columns(spark):
    """NULL text scores (empty features) instead of NPE-ing the tokenizer,
    and user columns named prediction/probability survive scoring."""
    from yirgacheffe_spark.text import classifier

    labeled = spark.createDataFrame(pd.DataFrame({
        "text": (["good clean prose here"] * 6 + ["spam spam click now"] * 6),
        "label": np.array([1] * 6 + [0] * 6, dtype=np.int64)}))
    model = classifier.train_quality_classifier(labeled, num_features=1 << 10)
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(3, dtype=np.int64),
        "text": ["good clean prose here", None, "spam spam click now"],
        "prediction": ["keep-me-a", "keep-me-b", "keep-me-c"],
        "probability": [0.1, 0.2, 0.3],
    }))
    out = classifier.score_quality(df, model).collect()
    assert len(out) == 3
    assert sorted(r["prediction"] for r in out) == ["keep-me-a", "keep-me-b",
                                                    "keep-me-c"]
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["quality_prob"] is not None  # null text still scores
    assert by_id[0]["quality_prob"] > by_id[2]["quality_prob"]
