"""Dedup operator tests: exact, minhash recall, simhash locality,
jaccard correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_data_engineering_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)


def _corpus_with_near_dups(spark, sf_dir, tail=" tiny tail"):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    near = (
        d.filter((F.col("doc_id") % 5 == 0) & (F.col("n_chars") > 150))
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(tail)))
    )
    return d.unionByName(near), near.count()


class TestExactDedup:
    def test_injected_duplicates_collapse(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dup = d.withColumn("doc_id", F.col("doc_id") + 100_000)
        out = exact_dedup(d.unionByName(dup), "text", "doc_id")
        rows = out.collect()
        assert len(rows) == d.count()
        assert all(r["dup_count"] == 2 for r in rows)
        # canonical id is the min — original ids survive
        assert all(r["doc_id"] < 100_000 for r in rows)

    def test_normalization_collapses_case_and_punct(self, spark):
        df = spark.createDataFrame([(1, "Hello, World"), (2, "hello world!")], "doc_id int, text string")
        assert exact_dedup(df, "text", "doc_id").count() == 1


class TestShingles:
    def test_values(self, spark):
        out = spark.range(1).select(shingles(F.lit("a b c d"), 3).alias("s")).collect()[0]["s"]
        assert sorted(out) == ["a b c", "b c d"]

    def test_short_doc_partial(self, spark):
        out = spark.range(1).select(shingles(F.lit("a b"), 3).alias("s")).collect()[0]["s"]
        assert out == ["a b"]


class TestMinhashRecall:
    def test_finds_injected_near_dups(self, spark, sf_dir):
        corpus, n_pairs = _corpus_with_near_dups(spark, sf_dir)
        truth = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(corpus, "text", "doc_id", 0.7).collect()
            if r["id_b"] == r["id_a"] + 50_000
        }
        assert truth, "fixture should produce high-jaccard pairs"
        cand = {
            (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(corpus, "text", "doc_id").collect()
        }
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.9, f"LSH recall {recall} too low (truth={len(truth)})"


class TestSimhash:
    def test_near_dups_have_small_hamming_distance(self, spark, sf_dir):
        corpus, _ = _corpus_with_near_dups(spark, sf_dir)
        sh = simhash(corpus, "text").select("doc_id", "simhash")
        orig = sh.filter(F.col("doc_id") < 50_000).withColumnRenamed("simhash", "h1")
        near = sh.filter(F.col("doc_id") >= 50_000).withColumn(
            "doc_id", F.col("doc_id") - 50_000
        ).withColumnRenamed("simhash", "h2")
        joined = orig.join(near, "doc_id").select(
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("ham")
        )
        avg_near = joined.agg(F.avg("ham")).collect()[0][0]
        # random 64-bit pairs differ in ~32 bits; near-dups far less
        assert avg_near < 16, f"near-dup avg hamming {avg_near}"

    def test_deterministic(self, spark):
        df = spark.createDataFrame([(1, "some stable text here")], "doc_id int, text string")
        a = simhash(df, "text").collect()[0]["simhash"]
        b = simhash(df, "text").collect()[0]["simhash"]
        assert a == b

    def test_candidate_search_finds_injected_near_dups(self, spark, sf_dir):
        from azure_data_engineering_spark.operators.dedup import simhash_candidates

        corpus, n_injected = _corpus_with_near_dups(spark, sf_dir, tail=" x")
        pairs = simhash_candidates(corpus, "text", "doc_id", max_hamming=6, segments=8)
        found = {
            (r["id_a"], r["id_b"])
            for r in pairs.collect()
            if r["id_b"] == r["id_a"] + 50_000
        }
        # a tiny tail barely shifts token votes: most planted pairs land
        # within the Hamming ball
        assert len(found) >= n_injected * 0.8, f"{len(found)}/{n_injected}"

    def test_candidate_search_pigeonhole_guard(self, spark):
        import pytest

        from azure_data_engineering_spark.operators.dedup import simhash_candidates

        df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
        with pytest.raises(ValueError, match="pigeonhole"):
            simhash_candidates(df, "text", "doc_id", max_hamming=4, segments=4)


class TestJaccard:
    def test_exact_value(self, spark):
        # shingle sets: {a b c, b c d} vs {a b c} -> J = 1/2
        df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], "doc_id int, text string")
        rows = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.4).collect()
        assert len(rows) == 1
        assert abs(rows[0]["jaccard"] - 0.5) < 1e-9

    def test_threshold_filters(self, spark):
        df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], "doc_id int, text string")
        assert ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.6).count() == 0


class TestSubstringDedup:
    def _stats(self, spark, rows, k=3):
        from azure_data_engineering_spark.operators.dedup import duplicated_span_stats

        df = spark.createDataFrame(rows, "doc_id int, text string")
        return {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
            for r in duplicated_span_stats(df, k=k).collect()
        }

    def test_first_occurrence_kept(self, spark):
        # doc 1 and doc 2 share the 3-gram "x y z"; doc 1 is the min
        # (doc,pos) occurrence, so only doc 2 is flagged
        got = self._stats(
            spark, [(1, "x y z a b"), (2, "c d x y z"), (3, "p q r s t")]
        )
        assert got[1] == (5, 0, 0.0)
        assert got[2] == (5, 3, 0.6)
        assert got[3] == (5, 0, 0.0)

    def test_overlapping_spans_count_once(self, spark):
        # doc 2 repeats a 4-token span -> two overlapping dup 3-grams
        # covering 4 distinct positions, not 6
        got = self._stats(spark, [(1, "a b c d"), (2, "a b c d")])
        assert got[2] == (4, 4, 1.0)

    def test_intra_document_repeat_flagged(self, spark):
        # the second copy of a span inside ONE doc is also a duplicate
        got = self._stats(spark, [(1, "m n o q q m n o")])
        n_tokens, dup_tokens, _ = got[1]
        assert n_tokens == 8
        assert dup_tokens == 3  # positions 6,7,8 ("m n o" again)

    def test_short_docs_have_no_grams(self, spark):
        got = self._stats(spark, [(1, "a b"), (2, "a b")])
        assert got[1] == (2, 0, 0.0) and got[2] == (2, 0, 0.0)

    def test_64bit_doc_ids(self, spark):
        # xxhash64-style ids: a bigint doc_id * 1e7 first-occurrence key
        # overflows; the lower id still keeps its span
        from azure_data_engineering_spark.operators.dedup import duplicated_span_stats

        df = spark.createDataFrame(
            [(2**62, "x y z a"), (-(2**62), "x y z b")], "doc_id bigint, text string"
        )
        got = {r["doc_id"]: r["dup_tokens"] for r in duplicated_span_stats(df, k=3).collect()}
        assert got == {2**62: 3, -(2**62): 0}


class TestSubstringDedupSkew:
    def test_hot_gram_corpus_stays_linear(self, spark):
        """2000 identical docs: EVERY gram is a hot key (occ=2000).
        The per-gram aggregate partial-combines before the exchange
        (plan-asserted in test_plans), so the shuffle carries one
        partial row per task per gram, and the occurrence join fans
        back out LINEARLY (one row per occurrence, never per pair —
        a pairwise formulation would be 2000x2000 per gram). AQE's
        skew handling splits the hot join partitions at runtime.
        Asserts exact survivorship: the min-id doc keeps everything,
        every other copy is 100% duplicated span."""
        import time

        from azure_data_engineering_spark.operators.dedup import duplicated_span_stats

        text = " ".join(f"tok{i}" for i in range(40))
        df = spark.createDataFrame(
            [(i, text) for i in range(2000)], "doc_id int, text string"
        )
        t0 = time.perf_counter()
        rows = {r["doc_id"]: r for r in duplicated_span_stats(df, k=8).collect()}
        elapsed = time.perf_counter() - t0
        assert rows[0]["dup_tokens"] == 0
        assert all(rows[i]["dup_frac"] == 1.0 for i in range(1, 2000))
        # linear-work bound: 2000 docs x 40 tokens must stay interactive
        assert elapsed < 120
