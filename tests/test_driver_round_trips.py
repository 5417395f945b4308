"""Building the curation path's wide expressions costs the driver a
small, fixed number of py4j round trips: each is one SQL expression
(the MinHash lanes, the band hashes, the IVF centroid literal), and
PySpark captures no Python call site per functions call
(session.get_spark). Unrolled node by node, the same expressions cost
thousands of round trips (~128k for 256 x 64 centroids) before any
Spark job starts. Only plans are built here; nothing is executed."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_data_engineering_spark.operators.dedup import minhash_lsh_candidates
from azure_data_engineering_spark.operators.ivf import _nearest_cells, ivfpq_top_k


@pytest.fixture()
def round_trips(spark, monkeypatch):
    """round_trips(build) -> py4j commands sent while build() runs. The
    proxy deletes py4j sends for Python objects collected earlier are
    not counted: they are flushed at whatever command comes next."""
    client = spark.sparkContext._gateway._gateway_client

    def count(build):
        sent = []
        send = client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith("m\nd\n"):
                sent.append(command)
            return send(command, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            build()
        return len(sent)

    return count


def test_minhash_lsh_candidates_builds_in_few_round_trips(spark, round_trips):
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    assert round_trips(lambda: minhash_lsh_candidates(docs, "text", "doc_id")) <= 500


def test_nearest_cells_round_trips_do_not_grow_with_centroids(spark, round_trips):
    rng = np.random.default_rng(0)
    small = round_trips(lambda: _nearest_cells(F.col("v"), rng.standard_normal((2, 4)).tolist(), 1))
    wide = round_trips(lambda: _nearest_cells(F.col("v"), rng.standard_normal((256, 64)).tolist(), 4))
    assert wide <= 200
    assert wide == small


def test_ivfpq_top_k_builds_in_few_round_trips(spark, round_trips):
    rng = np.random.default_rng(0)
    vecs = spark.createDataFrame([(1, [0.1] * 64)], "vec_id long, embedding array<double>")
    cents = rng.standard_normal((8, 64)).tolist()
    books = [rng.standard_normal((16, 8)).tolist() for _ in range(8)]
    assert round_trips(lambda: ivfpq_top_k(vecs, vecs, cents, books)) <= 1000
