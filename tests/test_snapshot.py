"""Manifest-committed snapshot tables (sources/snapshot.py): the
transactional contract the reference gets from ON COMMIT DROP staging +
single MERGE (PGHelperFunction.py:74-77), on plain parquet."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from azure_data_engineering_spark.sources import snapshot as sn


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


class TestCommits:
    def test_overwrite_and_append_and_time_travel(self, spark, table):
        v1 = sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)
        v2 = sn.snapshot_write(_df(spark, [(3, "c")]), table, mode="append")
        assert (v1, v2) == (1, 2)
        assert sn.current_version(table) == 2
        now = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert now == {(1, "a"), (2, "b"), (3, "c")}
        then = {(r.k, r.v) for r in sn.snapshot_read(spark, table, version=1).collect()}
        assert then == {(1, "a"), (2, "b")}

    def test_append_does_not_rewrite_existing_files(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        before = set(sn._read_manifest(table, 1))
        sn.snapshot_write(_df(spark, [(2, "b")]), table, mode="append")
        after = set(sn._read_manifest(table, 2))
        assert before < after  # v1's files are reused verbatim, not rewritten

    def test_empty_table_read_raises(self, spark, table):
        with pytest.raises(FileNotFoundError):
            sn.snapshot_read(spark, table)


class TestMerge:
    def test_merge_updates_inserts_and_dedups(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)
        # source has a duplicate PK; default order picks the max payload
        sn.snapshot_merge(_df(spark, [(2, "B"), (2, "A"), (3, "c")]), table, pk=["k"])
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        # pre-merge snapshot still readable (time travel across a MERGE)
        old = {(r.k, r.v) for r in sn.snapshot_read(spark, table, version=1).collect()}
        assert old == {(1, "a"), (2, "b")}

    def test_merge_into_empty_table_bootstraps(self, spark, table):
        sn.snapshot_merge(_df(spark, [(1, "x"), (1, "y")]), table, pk=["k"])
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(1, "y")}  # deduped even on bootstrap


class TestCrashAndVacuum:
    def test_crashed_commit_is_invisible_and_skipped(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        # simulate a crash after step 2 (manifest written, pointer not)
        files = sn._stage_data(_df(spark, [(9, "z")]), table)
        os.makedirs(sn._manifest_dir(table), exist_ok=True)
        import json

        with open(os.path.join(sn._manifest_dir(table), "v2.json"), "w") as f:
            json.dump({"version": 2, "files": files}, f)
        # readers still see v1; the orphan never surfaces
        assert sn.current_version(table) == 1
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(1, "a")}
        # the dead slot fences every writer, naming the slot and the fix
        with pytest.raises(sn.ConcurrentCommitError, match="slot v2") as err:
            sn.snapshot_write(_df(spark, [(2, "b")]), table, mode="append")
        assert "release_orphan_slot" in str(err.value)
        assert sn.current_version(table) == 1
        # once an operator releases it, the next commit takes v2
        sn.release_orphan_slot(table, 2)
        v = sn.snapshot_write(_df(spark, [(2, "b")]), table, mode="append")
        assert v == 2
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(1, "a"), (2, "b")}

    def test_vacuum_drops_unreferenced_files_keeps_current(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        sn.snapshot_write(_df(spark, [(2, "b")]), table)  # overwrite: v1 files now dead
        removed = sn.vacuum(table, keep_last=1)
        assert removed >= 1
        assert sn.snapshot_versions(table) == [2]
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(2, "b")}

    def test_vacuum_removes_crash_orphans(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        orphans = sn._stage_data(_df(spark, [(9, "z")]), table)  # no manifest, no pointer
        assert orphans
        removed = sn.vacuum(table, keep_last=1)
        assert removed == len(orphans)
        got = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert got == {(1, "a")}

    def test_vacuum_keep_last_counts_only_committed_versions(self, spark, table):
        """A dead claim above the pointer is not a version to keep: with
        v1, v2 committed and a claim at v3, keep_last=2 keeps v1 and v2
        (time travel to v1 still works) and leaves the claim for
        release_orphan_slot."""
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        sn.snapshot_write(_df(spark, [(2, "b")]), table)  # overwrite
        dead = os.path.join(sn._manifest_dir(table), "v3.json")
        with open(dead, "w") as f:
            f.write('{"version": 3, "files": []}')
        sn.vacuum(table, keep_last=2)
        assert sn.snapshot_versions(table) == [1, 2, 3]
        v1 = {(r.k, r.v) for r in sn.snapshot_read(spark, table, version=1).collect()}
        assert v1 == {(1, "a")}
        assert sn.current_version(table) == 2
        sn.release_orphan_slot(table, 3)
        assert sn.snapshot_versions(table) == [1, 2]


class TestStreamingSink:
    def test_stream_merges_each_batch_as_one_commit(self, spark, table, tmp_path):
        """Two single-file micro-batches -> two snapshot versions; the
        final table equals batch0-then-batch1 MERGE algebra and the
        post-batch0 state is still time-travelable."""
        import shutil
        import time

        from azure_data_engineering_spark.streaming.sinks import stream_upsert_to_snapshot
        from azure_data_engineering_spark.sources import snapshot as sn

        src = str(tmp_path / "src")
        os.makedirs(src)
        b0 = _df(spark, [(1, "a"), (2, "b")])
        b1 = _df(spark, [(2, "B"), (3, "c")])
        for i, b in enumerate([b0, b1]):
            stage = str(tmp_path / f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            import glob as g

            part = g.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"b{i}.parquet"))
            if i == 0:
                time.sleep(1.05)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_upsert_to_snapshot(stream, table, pk=["k"])
        q.awaitTermination()
        versions = sn.snapshot_versions(table)
        assert len(versions) == 2
        final = {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}
        assert final == {(1, "a"), (2, "B"), (3, "c")}
        mid = {(r.k, r.v) for r in sn.snapshot_read(spark, table, version=versions[0]).collect()}
        assert mid == {(1, "a"), (2, "b")}
