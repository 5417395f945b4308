"""Similarity-search tests: brute-force exactness, LSH recall, and the
exact cosine kernel's contract (bit-identity, unscored vectors, ids)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.vectors import cosine_similarity, dot, l2_norm
from azure_data_engineering_spark.operators.ivf import ivf_top_k
from azure_data_engineering_spark.operators.similarity import brute_force_top_k, lsh_bucketed_top_k

DIM = 16
# two cells; probing both makes ivf_top_k score every pair
CENTROIDS = [[1.0] + [0.0] * (DIM - 1), [0.0] * (DIM - 1) + [1.0]]

EXACT_SEARCHES = {
    "brute_force_top_k": lambda q, c, k: brute_force_top_k(q, c, k=k, round_digits=None),
    "ivf_top_k": lambda q, c, k: ivf_top_k(q, c, CENTROIDS, k=k, nprobe=2, round_digits=None),
    "lsh_bucketed_top_k": lambda q, c, k: lsh_bucketed_top_k(
        q, c, dim=DIM, k=k, planes=2, round_digits=None
    ),
}


def _seeded(spark, n=40, extra=()):
    """n seeded float32 vectors (vec_id 0 is the zero vector) plus any
    `extra` (vec_id, embedding) rows."""
    vecs = np.random.default_rng(7).standard_normal((n, DIM)).astype(np.float32)
    vecs[0] = 0.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)] + list(extra)
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestVectorMath:
    def test_dot_and_norm(self, spark):
        df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], "a array<float>, b array<float>")
        row = df.select(
            dot(F.col("a"), F.col("b")).alias("d"), l2_norm(F.col("a")).alias("n")
        ).collect()[0]
        assert row["d"] == 4.0
        assert row["n"] == 3.0

    def test_cosine_zero_vector_is_zero_not_nan(self, spark):
        df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>")
        assert df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"] == 0.0


class TestBruteForce:
    def test_identical_vector_ranks_first(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # plant an exact copy of vec 0 with a new id
        copy = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
        corpus = emb.unionByName(copy)
        out = brute_force_top_k(emb.filter(F.col("vec_id") == 0), corpus, k=1)
        top = out.collect()[0]
        assert top["neighbor_id"] == 999_999
        assert abs(top["cosine"] - 1.0) < 1e-6

    def test_excludes_self(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = brute_force_top_k(emb.filter(F.col("vec_id") < 3), emb, k=5)
        assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0

    def test_k_rows_per_query(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = brute_force_top_k(emb.filter(F.col("vec_id") < 3), emb, k=5)
        counts = {r["query_id"]: r["n"] for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
        assert counts == {0: 5, 1: 5, 2: 5}


class TestLshAnn:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["neighbor_id"]) for r in brute_force_top_k(q, emb, k=3).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_bucketed_top_k(q, emb, dim=64, k=3, planes=2).collect()
        }
        recall = len(exact & approx) / len(exact)
        # 2 hyperplanes = 4 coarse buckets; same-bucket neighbors
        # should cover a solid fraction of the true top-3
        assert recall >= 0.5, f"ANN recall {recall}"


class TestExactKernel:
    @pytest.mark.parametrize("search", sorted(EXACT_SEARCHES))
    def test_raw_cosine_equals_cosine_similarity(self, spark, search):
        emb = _seeded(spark)
        q = emb.filter(F.col("vec_id") < 6)
        out = EXACT_SEARCHES[search](q, emb, 40)
        vq = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        vc = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        rows = (
            out.join(vq, "query_id")
            .join(vc, "neighbor_id")
            .select("query_id", "cosine", cosine_similarity(F.col("qv"), F.col("cv")).alias("truth"))
            .collect()
        )
        if search != "lsh_bucketed_top_k":  # exact searches score every pair
            assert len(rows) == 6 * 39
        assert any(r["query_id"] == 0 for r in rows)  # the zero vector is scored
        assert [r["cosine"] for r in rows] == [r["truth"] for r in rows]

    def test_string_ids_round_trip(self, spark):
        rows = [("a", [1.0, 0.0]), ("b", [1.0, 0.1]), ("c", [0.0, 1.0])]
        emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
        out = brute_force_top_k(emb.filter(F.col("vec_id") == "a"), emb, k=2)
        assert out.schema["neighbor_id"].dataType.simpleString() == "string"
        assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()] == [
            ("a", "b", 1),
            ("a", "c", 2),
        ]

    def test_panel_over_the_cap_raises(self, spark):
        q = spark.range(4097).select(
            F.col("id").alias("vec_id"), F.array(F.lit(1.0).cast("float")).alias("embedding")
        )
        with pytest.raises(ValueError, match="4096"):
            brute_force_top_k(q, q, k=1)


def _ranks_of(out, vec_id):
    return [(r["rank"], r["cosine"]) for r in out.filter(F.col("neighbor_id") == vec_id).collect()]


class TestUnscoredVectors:
    """A pair with no finite cosine scores null and ranks after every
    scored neighbour (Spark orders NaN above every number, so a NaN
    score would rank first)."""

    @pytest.mark.parametrize("search", ["brute_force_top_k", "ivf_top_k"])
    def test_nan_component_ranks_last(self, spark, search):
        self._check(spark, search, [float("nan")] + [1.0] * (DIM - 1), [(40, None)] * 3)

    @pytest.mark.parametrize("search", ["brute_force_top_k", "ivf_top_k", "lsh_bucketed_top_k"])
    @pytest.mark.parametrize("vec", [None, [1.0] * (DIM - 1)], ids=["null", "short"])
    def test_null_or_short_vector_ranks_last(self, spark, search, vec):
        # LSH gives such a vector no buckets, so it is never a candidate
        self._check(spark, search, vec, [] if search == "lsh_bucketed_top_k" else [(40, None)] * 3)

    @staticmethod
    def _check(spark, search, vec, over_corpus):
        emb = _seeded(spark, extra=[(99, vec)])
        q = emb.filter(F.col("vec_id").between(1, 3))
        # k over the corpus: an exact search keeps the unscored row, null, ranked last
        assert _ranks_of(EXACT_SEARCHES[search](q, emb, 100), 99) == over_corpus
        # k below the scored candidates: the unscored row never makes it
        assert _ranks_of(EXACT_SEARCHES[search](q, emb, 3), 99) == []
