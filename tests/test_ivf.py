"""IVF-Flat ANN tests: determinism, recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from azure_data_engineering_spark.catalog import load_table
from azure_data_engineering_spark.functions.vectors import l2_normalize
from azure_data_engineering_spark.operators.ivf import (
    _nearest_cells,
    _unit_rows,
    ivf_index_build,
    ivf_top_k,
    ivfpq_search_index,
    ivfpq_top_k,
    train_centroids,
    train_pq_codebooks,
)
from azure_data_engineering_spark.operators.similarity import brute_force_top_k


@pytest.fixture(scope="module")
def centroids(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    return train_centroids(emb, "embedding", nlist=8)


class TestIvf:
    def test_centroids_deterministic(self, spark, sf_dir, centroids):
        again = train_centroids(load_table(spark, sf_dir, "embeddings"), "embedding", nlist=8)
        assert centroids == again

    def test_recall_vs_brute_force(self, spark, sf_dir, centroids):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["neighbor_id"]) for r in brute_force_top_k(q, emb, k=3).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_top_k(q, emb, centroids, k=3, nprobe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        # nprobe=4 of nlist=8 probes half the cells
        assert recall >= 0.7, f"IVF recall {recall}"

    def test_probing_fewer_cells_reduces_candidates(self, spark, sf_dir, centroids):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        wide = ivf_top_k(q, emb, centroids, k=500, nprobe=8).count()
        narrow = ivf_top_k(q, emb, centroids, k=500, nprobe=1).count()
        assert narrow < wide

    def test_unfit_sample_rows_are_skipped(self, spark, sf_dir):
        """A NaN component or a null vector in the training sample is
        skipped: one NaN row once turned its centroid NaN and drew every
        row into that cell, and a null vector broke the sample matrix."""
        emb = load_table(spark, sf_dir, "embeddings")
        first = emb.filter(F.col("vec_id") == 0)
        id_type, vec_type = emb.schema["vec_id"].dataType, emb.schema["embedding"].dataType
        nan_row = first.withColumn("vec_id", F.lit(-1).cast(id_type)).withColumn(
            "embedding",
            F.transform("embedding", lambda x, i: F.when(i == 3, F.lit(float("nan"))).otherwise(x))
            .cast(vec_type),
        )
        null_row = first.withColumn("vec_id", F.lit(-2).cast(id_type)).withColumn(
            "embedding", F.lit(None).cast(vec_type)
        )
        cents = train_centroids(emb.unionByName(nan_row).unionByName(null_row), "embedding", nlist=8)
        assert all(x == x and abs(x) != float("inf") for c in cents for x in c)
        cells = emb.select(_nearest_cells(F.col("embedding"), cents, 1)[0].alias("cell"))
        assert cells.distinct().count() > 1

    def test_nearest_cells_exact_on_awkward_values(self, spark):
        """The centroids travel as one SQL literal: every value must
        parse back to the same double, so the cells equal numpy's
        arg-top-n of the same left-fold dot (ties to the higher cell)."""
        awkward = [1 / 3, 1e-300, -0.0, 5e-324, 1e308, -1 / 3, 2.0 / 7, -5e-324]
        rng = np.random.default_rng(7)
        C = rng.uniform(-1, 1, (6, 8))
        for i in range(6):
            C[i, i] = awkward[i]
        C[5] = awkward[::-1]
        V = rng.uniform(-1, 1, (40, 8))
        score = np.add.accumulate(V[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
        want = [sorted(range(6), key=lambda j: (s[j], j), reverse=True)[:4] for s in score]
        df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(V)], "i int, v array<double>")
        got = df.orderBy("i").select(_nearest_cells(F.col("v"), C.tolist(), 4).alias("c")).collect()
        assert [r.c for r in got] == want

    def test_nearest_cells_non_finite_centroid(self, spark):
        # Spark orders NaN above every number: a NaN score ranks first
        cents = [[float("nan"), 1.0], [float("inf"), 1.0], [float("-inf"), 1.0], [0.5, 0.5]]
        df = spark.createDataFrame([(1, [1.0, 1.0]), (2, [-1.0, 1.0])], "i int, v array<double>")
        got = df.orderBy("i").select(_nearest_cells(F.col("v"), cents, 4).alias("c")).collect()
        assert [r.c for r in got] == [[0, 1, 3, 2], [0, 2, 3, 1]]

    def test_empty_corpus_raises(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings").limit(0)
        with pytest.raises(ValueError, match="no finite training vector"):
            train_pq_codebooks(emb, "embedding", dim=64, id_col="vec_id")


class TestIvfPq:
    @pytest.fixture(scope="class")
    def books(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        return train_pq_codebooks(
            emb, "embedding", dim=64, id_col="vec_id", m=16, ksub=32
        )

    def test_codebook_shape_and_determinism(self, spark, sf_dir, books):
        assert len(books) == 16
        assert all(len(b) == 32 and all(len(c) == 4 for c in b) for b in books)
        again = train_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            "embedding", dim=64, id_col="vec_id", m=16, ksub=32,
        )
        assert books == again

    def test_sample_normalization_matches_l2_normalize(self, spark):
        """The codebooks are fit on a numpy-normalized sample; it must
        equal, bit for bit, the l2_normalize column the encoder sees."""
        X = np.random.default_rng(7).normal(size=(40, 16)).astype(np.float32).astype(np.float64)
        X[0] = 0.0
        X[1] *= 1e-170  # the squares underflow: a zero norm on a nonzero row
        df = spark.createDataFrame(
            [(i, [float(x) for x in r]) for i, r in enumerate(X)], "i int, v array<double>"
        )
        want = [r.u for r in df.orderBy("i").select(l2_normalize(F.col("v")).alias("u")).collect()]
        assert _unit_rows(X).tolist() == want

    def test_codes_are_m_bytes(self, spark, sf_dir, books):
        """The index artifact per vector is exactly m small ints —
        the 16x compression claim for dim=64 float32."""
        from azure_data_engineering_spark.operators.ivf import _pq_encode_udf

        emb = load_table(spark, sf_dir, "embeddings").limit(50)
        enc = _pq_encode_udf(books)
        rows = emb.select(enc(l2_normalize(F.col("embedding"))).alias("codes")).collect()
        for r in rows:
            assert len(r.codes) == 16
            assert all(0 <= c < 32 for c in r.codes)

    def test_recall_vs_brute_force(self, spark, sf_dir, centroids, books):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_top_k(q, emb, k=3).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivfpq_top_k(q, emb, centroids, books, k=3, nprobe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6, f"IVF-PQ recall {recall}"

    def test_refine_reranks_exactly(self, spark, sf_dir, centroids, books):
        """Output cosine must equal the TRUE rounded cosine (the
        refine step uses full-precision vectors, not ADC scores)."""
        from azure_data_engineering_spark.functions.vectors import cosine_similarity

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        got = ivfpq_top_k(q, emb, centroids, books, k=3, nprobe=4).collect()
        vecs = {r.vec_id: r.embedding for r in emb.collect()}
        df2 = spark.createDataFrame(
            [(r.query_id, r.neighbor_id, r.cosine,
              vecs[r.query_id], vecs[r.neighbor_id]) for r in got],
            "qid long, nid long, cosine double, qv array<float>, nv array<float>",
        )
        chk = df2.select(
            "cosine",
            F.round(cosine_similarity(F.col("qv"), F.col("nv")), 6).alias("truth"),
        ).collect()
        for r in chk:
            assert r.cosine == r.truth

    def test_index_search_matches_on_the_fly_search(self, spark, sf_dir, centroids, books, tmp_path):
        """ivfpq_top_k and ivfpq_search_index are one search: over the
        same corpus they return the same rows."""
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        table = str(tmp_path / "idx")
        ivf_index_build(emb, centroids, books, table)
        on_the_fly = ivfpq_top_k(q, emb, centroids, books, k=3).collect()
        indexed = ivfpq_search_index(q, emb, centroids, books, table, k=3).collect()
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        assert sorted(on_the_fly, key=key) == sorted(indexed, key=key)
        assert len(on_the_fly) == 15
