"""Version-fenced compare-and-swap commits for snapshot tables
(sources/snapshot.py, the one commit protocol every writer uses): the
concurrent-writer piece of the table-format story — O_EXCL manifest
create per version slot is the lock, pointer swap only ever moves
expected -> expected+1, and losers rebase on the winner's snapshot
instead of last-writer-wins dropping a commit (the failure mode a
streaming CDC sink + batch compaction job sharing one table would
otherwise hit)."""

from __future__ import annotations

import os

import pytest

from azure_data_engineering_spark.sources import snapshot as sn


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _rows(spark, table):
    return {(r.k, r.v) for r in sn.snapshot_read(spark, table).collect()}


def _write_fenced(df, table, expected_version, mode="overwrite", **kw):
    """Stage df and commit it through the fence at exactly
    expected_version + 1 (no retry loop)."""
    files = sn._stage_data(df, table)
    if mode == "append" and expected_version is not None:
        files = sn._read_manifest(table, expected_version) + files
    return sn._commit(table, expected_version, files, **kw)


class TestCasCommit:
    def test_cas_write_happy_path(self, spark, table):
        v1 = _write_fenced(_df(spark, [(1, "a")]), table, None)
        v2 = _write_fenced(
            _df(spark, [(2, "b")]), table, expected_version=1, mode="append"
        )
        assert (v1, v2) == (1, 2)
        assert _rows(spark, table) == {(1, "a"), (2, "b")}

    def test_stale_expected_version_loses(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        # writer still believes the table is empty -> fenced out
        with pytest.raises(sn.ConcurrentCommitError):
            _write_fenced(_df(spark, [(9, "z")]), table, None)
        # the losing attempt left the committed state untouched
        assert sn.current_version(table) == 1
        assert _rows(spark, table) == {(1, "a")}

    def test_interleaved_writers_exactly_one_wins(self, spark, table):
        """Two writers race for the same slot: both stage their data
        against version 1, the slot's O_EXCL create admits exactly one,
        and the loser's files never become visible."""
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        # both writers stage data files for slot 2 (interleaved step 1)
        files_w1 = sn._stage_data(_df(spark, [(2, "w1")]), table)
        files_w2 = sn._stage_data(_df(spark, [(2, "w2")]), table)
        base = sn._read_manifest(table, 1)
        won = sn._commit(table, 1, list(base) + files_w1)
        assert won == 2
        with pytest.raises(sn.ConcurrentCommitError):
            sn._commit(table, 1, list(base) + files_w2)
        assert sn.current_version(table) == 2
        assert _rows(spark, table) == {(1, "a"), (2, "w1")}
        # the loser's staged files are invisible orphans vacuum removes
        removed = sn.vacuum(table, keep_last=2)
        assert removed >= 1
        assert _rows(spark, table) == {(1, "a"), (2, "w1")}

    def test_merge_cas_retries_and_rebases(self, spark, table, monkeypatch):
        """The retry helper recomputes against the NEW current snapshot
        after losing a race: both updates survive (no lost update)."""
        sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)

        # simulate a competing commit landing between W2's read of the
        # current version and its commit attempt: the first _commit
        # call is preceded by an injected winner
        real_commit = sn._commit
        state = {"raced": False}

        def racing_commit(t, expected, files, **kw):
            if not state["raced"]:
                state["raced"] = True
                # the interloper (e.g. the streaming CDC sink) commits
                # an update to key 1 first, moving the table to v2
                sn.snapshot_merge(_df(spark, [(1, "a2")]), t, ["k"])
                # W2's fence is now stale; this raises and forces rebase
            return real_commit(t, expected, files, **kw)

        monkeypatch.setattr(sn, "_commit", racing_commit)
        v = sn.snapshot_merge(_df(spark, [(3, "c")]), table, ["k"])
        monkeypatch.setattr(sn, "_commit", real_commit)
        assert state["raced"]
        assert v == 3  # interloper took v2, rebased retry landed v3
        # BOTH the interloper's update and W2's insert survived
        assert _rows(spark, table) == {(1, "a2"), (2, "b"), (3, "c")}

    def test_apply_cdc_cas_rebases(self, spark, table, monkeypatch):
        sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)
        real_commit = sn._commit
        state = {"raced": False}

        def racing_commit(t, expected, files, **kw):
            if not state["raced"]:
                state["raced"] = True
                sn.snapshot_merge(_df(spark, [(4, "d")]), t, ["k"])
            return real_commit(t, expected, files, **kw)

        monkeypatch.setattr(sn, "_commit", racing_commit)
        changes = spark.createDataFrame(
            [("D", 2, None), ("U", 1, "a9")], "op string, k int, v string"
        )
        v = sn.snapshot_apply_cdc(changes, table, ["k"])
        monkeypatch.setattr(sn, "_commit", real_commit)
        assert v == 3
        assert _rows(spark, table) == {(1, "a9"), (4, "d")}

    def test_retries_exhausted_raises(self, spark, table, monkeypatch):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)

        def always_lose(t, expected, files, **kw):
            raise sn.ConcurrentCommitError("perpetual contention")

        monkeypatch.setattr(sn, "_commit", always_lose)
        with pytest.raises(sn.ConcurrentCommitError, match="consecutive") as err:
            sn.snapshot_merge(_df(spark, [(2, "b")]), table, ["k"])
        assert "perpetual contention" in str(err.value)  # last loss's reason
        # the pointer never moved, so the merge was staged once, not per try
        staged = os.listdir(os.path.join(table, "data"))
        assert len(staged) == 2  # the v1 write + one merge attempt

    @pytest.mark.parametrize(
        "write",
        [
            lambda df, t: sn.snapshot_merge(df, t, ["k"]),
            lambda df, t: sn.snapshot_write(df, t, mode="append"),
        ],
        ids=["merge", "append"],
    )
    def test_commit_during_staging_is_never_overwritten(
        self, spark, table, monkeypatch, write
    ):
        """An interloper commits v2 while the writer's data-staging job
        runs. The writer must land after it, not pick v2 up front and
        rewrite the interloper's manifest in place: both updates
        survive, and v2.json stays byte-identical for time travel."""
        from pyspark.sql.readwriter import DataFrameWriter

        sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)
        real_parquet = DataFrameWriter.parquet
        v2 = os.path.join(sn._manifest_dir(table), "v2.json")
        state = {}

        def racing_parquet(self_, path, *a, **kw):
            if not state:
                state["raced"] = True
                sn.snapshot_merge(_df(spark, [(1, "a2")]), table, ["k"])
                with open(v2, "rb") as f:
                    state["v2"] = f.read()
            return real_parquet(self_, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", racing_parquet)
        v = write(_df(spark, [(3, "c")]), table)
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        assert state["raced"]
        assert v == 3
        assert _rows(spark, table) == {(1, "a2"), (2, "b"), (3, "c")}
        with open(v2, "rb") as f:
            assert f.read() == state["v2"]
        old = {(r.k, r.v) for r in sn.snapshot_read(spark, table, version=2).collect()}
        assert old == {(1, "a2"), (2, "b")}


class TestOrphanSlot:
    def test_dead_claimant_blocks_slot_until_released(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        # a writer claims slot 2 then dies before the pointer swap
        dead = os.path.join(sn._manifest_dir(table), "v2.json")
        with open(dead, "w") as f:
            f.write('{"version": 2, "files": []}')
        with pytest.raises(sn.ConcurrentCommitError, match="slot"):
            _write_fenced(_df(spark, [(2, "b")]), table, 1)
        # explicit operator action frees the slot; commit then succeeds
        sn.release_orphan_slot(table, 2)
        assert _write_fenced(_df(spark, [(2, "b")]), table, 1) == 2

    def test_release_refuses_committed_versions(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        with pytest.raises(ValueError, match="committed"):
            sn.release_orphan_slot(table, 1)


class TestClaimTags:
    def test_same_tag_reclaims_dead_slot(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        # attempt A claims slot 2 with a batch tag, dies before swap
        files_a = sn._stage_data(_df(spark, [(2, "old-attempt")]), table)
        base = sn._read_manifest(table, 1)
        manifest = os.path.join(sn._manifest_dir(table), "v2.json")
        import json

        with open(manifest, "w") as f:
            json.dump(
                {"version": 2, "files": sorted(base + files_a), "claim_tag": "ckpt#b1"},
                f,
            )
        assert sn.current_version(table) == 1  # not committed
        # the RETRY of the same logical batch reclaims the slot
        files_b = sn._stage_data(_df(spark, [(2, "retry")]), table)
        v = sn._commit(table, 1, list(base) + files_b, claim_tag="ckpt#b1")
        assert v == 2
        assert _rows(spark, table) == {(1, "a"), (2, "retry")}

    def test_foreign_tag_still_fenced(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        manifest = os.path.join(sn._manifest_dir(table), "v2.json")
        with open(manifest, "w") as f:
            f.write('{"version": 2, "files": [], "claim_tag": "other-writer#b9"}')
        with pytest.raises(sn.ConcurrentCommitError):
            sn._commit(table, 1, [], claim_tag="ckpt#b1")
        # untagged commits never reclaim either
        with pytest.raises(sn.ConcurrentCommitError):
            sn._commit(table, 1, [])


class TestStaleClaimReclaim:
    def _plant_dead_claim(self, table, version, age_s, tag=None):
        import json
        import time

        os.makedirs(sn._manifest_dir(table), exist_ok=True)
        dead = os.path.join(sn._manifest_dir(table), f"v{version}.json")
        payload = {"version": version, "files": []}
        if tag is not None:
            payload["claim_tag"] = tag
        with open(dead, "w") as f:
            json.dump(payload, f)
        old = time.time() - age_s
        os.utime(dead, (old, old))
        return dead

    def test_stale_foreign_claim_auto_reclaimed(self, spark, table):
        """A crashed streaming sink's orphan slot no longer wedges the
        table: a live writer with an age policy recovers without
        release_orphan_slot."""
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        self._plant_dead_claim(table, 2, age_s=3600, tag="dead-sink#b7")
        v = _write_fenced(
            _df(spark, [(2, "b")]), table, 1, mode="append",
            stale_claim_timeout=60.0,
        )
        assert v == 2
        assert _rows(spark, table) == {(1, "a"), (2, "b")}

    def test_fresh_claim_not_reclaimed(self, spark, table):
        """A claim younger than the timeout is a live (slow) writer —
        the age policy must NOT steal it."""
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        self._plant_dead_claim(table, 2, age_s=5, tag="slow-writer#b1")
        with pytest.raises(sn.ConcurrentCommitError, match="slot"):
            _write_fenced(
                _df(spark, [(2, "b")]), table, 1, stale_claim_timeout=60.0,
            )
        assert sn.current_version(table) == 1

    def test_no_policy_keeps_strict_behavior(self, spark, table):
        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        self._plant_dead_claim(table, 2, age_s=3600)
        with pytest.raises(sn.ConcurrentCommitError, match="slot"):
            _write_fenced(_df(spark, [(2, "b")]), table, 1)

    def test_merge_cas_recovers_through_stale_slot(self, spark, table):
        """The retry-and-rebase path composes with the age policy: a
        merge pointed at a wedged table self-heals."""
        sn.snapshot_write(_df(spark, [(1, "a"), (2, "b")]), table)
        self._plant_dead_claim(table, 2, age_s=3600, tag="dead#b9")
        v = sn.snapshot_merge(
            _df(spark, [(2, "B2"), (3, "c")]), table, pk=["k"],
            stale_claim_timeout=60.0,
        )
        assert v == 2
        assert _rows(spark, table) == {(1, "a"), (2, "B2"), (3, "c")}

    def test_reclaim_rejected_if_claimant_committed(self, spark, table):
        """The claimant commits between the fence check and the
        reclaim: the pre-replace pointer re-check must REJECT the
        reclaim without ever touching the committed manifest — readers
        following the pointer must never see the reclaimer's file list
        under the claimant's version (ADVICE r10)."""
        import json

        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        dead = self._plant_dead_claim(table, 2, age_s=3600, tag="stalled#b3")
        orig = open(dead).read()

        real_cv = sn.current_version
        calls = {"n": 0}

        def racing_cv(t):
            calls["n"] += 1
            # 1st call: the fence check (report 1 = expected). The
            # claimant then "wakes up" and swaps the pointer to 2
            # before the pre-replace re-check (2nd call).
            if calls["n"] == 2:
                return 2
            return real_cv(t)

        sn.current_version = racing_cv
        try:
            with pytest.raises(sn.ConcurrentCommitError,
                               match="committed while evaluating"):
                sn._commit(table, 1, ["data/x.parquet"],
                               stale_claim_timeout=60.0)
        finally:
            sn.current_version = real_cv
        # the committed manifest was never overwritten, not even briefly
        assert json.loads(open(dead).read()) == json.loads(orig)

    def test_reclaim_rolls_back_if_claimant_committed_mid_replace(
        self, spark, table
    ):
        """The residual stalled-not-dead race: the claimant commits
        between the pre-replace re-check and the replace itself. The
        post-replace check must restore the displaced manifest and
        lose cleanly."""
        import json

        sn.snapshot_write(_df(spark, [(1, "a")]), table)
        dead = self._plant_dead_claim(table, 2, age_s=3600, tag="stalled#b3")
        orig = open(dead).read()

        real_cv = sn.current_version
        calls = {"n": 0}

        def racing_cv(t):
            calls["n"] += 1
            # 1st call: fence check (1 = expected); 2nd: pre-replace
            # re-check (still 1); 3rd: post-replace check — the
            # claimant committed in the replace window.
            if calls["n"] == 3:
                return 2
            return real_cv(t)

        sn.current_version = racing_cv
        try:
            with pytest.raises(sn.ConcurrentCommitError, match="waking up"):
                sn._commit(table, 1, ["data/x.parquet"],
                               stale_claim_timeout=60.0)
        finally:
            sn.current_version = real_cv
        # the displaced claim manifest was restored byte-for-byte
        assert json.loads(open(dead).read()) == json.loads(orig)
