"""Continuous near-dup dedup (streaming/dedup_stream.py): micro-batch
docs checked against the persisted signature store; copies of docs
kept in EARLIER batches are dropped, the store advances one atomic
snapshot version per batch, and intra-batch copies resolve to min id."""

from __future__ import annotations

import os
import time

import pandas as pd

from azure_data_engineering_spark.sources import snapshot as S
from azure_data_engineering_spark.streaming.dedup_stream import (
    dedup_batch_against_store,
    stream_neardup_filter,
)

DOCS = {
    1: "the quick brown fox jumps over the lazy dog near the silver river bank today",
    2: "completely different content about distributed query engines and shuffle planning",
    3: "a third unrelated document concerning citrus orchards and morning harvest routines",
}


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestBatchRounds:
    def test_history_and_intra_batch_dedup(self, spark, tmp_path):
        store = str(tmp_path / "sigstore")

        # round 1: three distinct docs + one exact intra-batch copy
        b1 = _df(
            spark,
            [(1, DOCS[1]), (2, DOCS[2]), (3, DOCS[3]), (10, DOCS[1])],
        )
        kept1 = sorted(
            r.doc_id
            for r in dedup_batch_against_store(b1, store, "text", "doc_id").collect()
        )
        assert kept1 == [1, 2, 3]  # 10 is an intra-batch copy of 1 (min id wins)
        v1 = S.current_version(store)
        assert v1 is not None

        # round 2: an exact copy of doc 1, a near-copy (appended tail)
        # of doc 2, and one genuinely new doc
        b2 = _df(
            spark,
            [
                (21, DOCS[1]),
                (22, DOCS[2] + " with a small appended tail"),
                (23, "entirely fresh material on tidal energy converters and mooring"),
            ],
        )
        kept2 = sorted(
            r.doc_id
            for r in dedup_batch_against_store(b2, store, "text", "doc_id").collect()
        )
        assert kept2 == [23]  # both copies dropped against HISTORY
        assert S.current_version(store) > v1  # one atomic commit per round

        # round 3: a copy of round-2's SURVIVOR is now history too
        b3 = _df(spark, [(31, "entirely fresh material on tidal energy converters and mooring")])
        kept3 = [
            r.doc_id
            for r in dedup_batch_against_store(b3, store, "text", "doc_id").collect()
        ]
        assert kept3 == []

    def test_store_grows_only_by_survivors(self, spark, tmp_path):
        store = str(tmp_path / "sigstore2")
        dedup_batch_against_store(_df(spark, [(1, DOCS[1])]), store, "text", "doc_id")
        n1 = S.snapshot_read(spark, store).count()
        # a batch of pure duplicates must not grow the store
        dedup_batch_against_store(
            _df(spark, [(9, DOCS[1]), (10, DOCS[1])]), store, "text", "doc_id"
        )
        assert S.snapshot_read(spark, store).count() == n1

    def test_string_doc_ids(self, spark, tmp_path):
        # URL / hash doc ids: the first round has no store to probe
        store = str(tmp_path / "sigstore_str")
        schema = "doc_id string, text string"
        b1 = spark.createDataFrame([("d1", DOCS[1]), ("d2", DOCS[1]), ("d3", DOCS[2])], schema)
        kept1 = sorted(r.doc_id for r in dedup_batch_against_store(b1, store, "text", "doc_id").collect())
        assert kept1 == ["d1", "d3"]
        b2 = spark.createDataFrame([("d4", DOCS[2]), ("d5", DOCS[3])], schema)
        kept2 = [r.doc_id for r in dedup_batch_against_store(b2, store, "text", "doc_id").collect()]
        assert kept2 == ["d5"]

    def test_survivors_reuse_batch_buckets(self, spark, tmp_path):
        # the batch is shingled and hashed once; the survivors read the
        # materialized buckets instead of re-running the shingle explode
        store = str(tmp_path / "sigstore_plan")
        dedup_batch_against_store(_df(spark, [(1, DOCS[1])]), store, "text", "doc_id")
        survivors = dedup_batch_against_store(
            _df(spark, [(2, DOCS[2]), (3, DOCS[1]), (4, DOCS[3])]), store, "text", "doc_id"
        )
        assert sorted(r.doc_id for r in survivors.collect()) == [2, 4]
        plan = survivors._jdf.queryExecution().executedPlan().toString()
        assert "Generate explode(array_distinct" not in plan

    def test_survivors_are_evaluated_once(self, spark, tmp_path):
        # the store commit and the caller's write share one materialized
        # survivor set: the returned frame re-runs neither the batch
        # scan's anti-join nor the bucket joins
        store = str(tmp_path / "sigstore_once")
        dedup_batch_against_store(_df(spark, [(1, DOCS[1])]), store, "text", "doc_id")
        survivors = dedup_batch_against_store(
            _df(spark, [(2, DOCS[2]), (3, DOCS[1])]), store, "text", "doc_id"
        )
        plan = survivors._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert [r.doc_id for r in survivors.collect()] == [2]


class TestStreaming:
    def test_two_microbatch_stream(self, spark, tmp_path):
        src = tmp_path / "nd_src"
        src.mkdir()
        store = str(tmp_path / "nd_store")
        out = str(tmp_path / "nd_out")

        pd.DataFrame({"doc_id": [1, 2], "text": [DOCS[1], DOCS[2]]}).to_parquet(
            src / "b0.parquet"
        )
        pd.DataFrame(
            {"doc_id": [11, 12], "text": [DOCS[1], DOCS[3]]}
        ).to_parquet(src / "b1.parquet")
        # the file source orders micro-batches by mtime
        now = time.time()
        for i, name in enumerate(["b0.parquet", "b1.parquet"]):
            os.utime(src / name, (now - 10 + i, now - 10 + i))

        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        q = stream_neardup_filter(
            stream,
            store,
            out,
            "text",
            "doc_id",
            checkpoint=str(tmp_path / "nd_ckpt"),
        )
        q.awaitTermination()

        kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert kept == [1, 2, 12]  # 11 = cross-batch copy of 1, dropped
        # store advanced one version per micro-batch
        assert len(S.snapshot_versions(store)) == 2
