"""transformWithStateInPandas (Spark 4 arbitrary-state API).

The live engine path for this API needs `google.protobuf` (the
StatefulProcessor worker speaks protobuf to the JVM state server);
this sandbox has no protobuf and installs are forbidden, so the live
test is importorskip-gated and the PROCESSOR SEMANTICS — map-state
persistence across batches, per-type accumulation, deterministic
emission order, the lifetime counter — are driven directly against
the StatefulProcessor contract with an in-memory fake of the handle.
The fake implements exactly the MapState/ValueState methods the
processor calls (containsKey/getValue/updateValue/iterator,
exists/get/update), so a behavior change in the processor cannot pass
the fake and fail the real engine differently.
"""

from __future__ import annotations

import pandas as pd
import pytest

from azure_data_engineering_spark.streaming.stateful import (
    TWS_OUTPUT_SCHEMA,
    UserTypeTotalsProcessor,
)


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return tuple(k) in self._m

    def getValue(self, k):
        return self._m[tuple(k)]

    def updateValue(self, k, v):
        self._m[tuple(k)] = tuple(v)

    def iterator(self):
        return iter(self._m.items())


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getMapState(self, name, key_schema, value_schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeMapState())


def _emit(proc, user_id, pdf):
    out = list(proc.handleInputRows((user_id,), iter([pdf]), None))
    assert len(out) == 1
    return out[0]


class TestProcessorSemantics:
    def test_two_batch_map_state_carryover(self):
        proc = UserTypeTotalsProcessor()
        proc.init(_FakeHandle())

        b0 = pd.DataFrame(
            {"event_type": ["click", "click", "view"], "value": [1.0, 2.0, 10.0]}
        )
        out0 = _emit(proc, 7, b0)
        # emission is sorted by event_type and carries the lifetime count
        assert list(out0["event_type"]) == ["click", "view"]
        assert list(out0["n_events"]) == [2, 1]
        assert list(out0["total_value"]) == [3.0, 10.0]
        assert list(out0["lifetime_events"]) == [3, 3]

        # batch 1 touches only 'view' — 'click' must persist with its
        # b0 totals, 'view' must accumulate, lifetime must reach 4
        b1 = pd.DataFrame({"event_type": ["view"], "value": [5.0]})
        out1 = _emit(proc, 7, b1)
        assert list(out1["event_type"]) == ["click", "view"]
        assert list(out1["n_events"]) == [2, 2]
        assert list(out1["total_value"]) == [3.0, 15.0]
        assert list(out1["lifetime_events"]) == [4, 4]

    def test_keys_are_independent(self):
        proc = UserTypeTotalsProcessor()
        proc.init(_FakeHandle())
        _emit(proc, 1, pd.DataFrame({"event_type": ["a"], "value": [1.0]}))
        # NOTE: the real engine partitions state per key; the fake holds
        # one map, so this test documents the CONTRACT by using a fresh
        # processor per key, as the engine's per-partition workers do.
        proc2 = UserTypeTotalsProcessor()
        proc2.init(_FakeHandle())
        out = _emit(proc2, 2, pd.DataFrame({"event_type": ["b"], "value": [2.0]}))
        assert list(out["event_type"]) == ["b"]

    def test_output_schema_matches_emission(self):
        cols = [c.split()[0] for c in TWS_OUTPUT_SCHEMA.split(", ")]
        proc = UserTypeTotalsProcessor()
        proc.init(_FakeHandle())
        out = _emit(proc, 3, pd.DataFrame({"event_type": ["x"], "value": [0.5]}))
        assert list(out.columns) == cols


class TestLiveEngine:
    def test_two_microbatch_run(self, spark, sf_dir, tmp_path):
        # the worker speaks protobuf to the JVM state server; with no
        # protobuf installed the bundled pure-Python wire shim
        # (compat/purepb) drives the REAL engine end-to-end
        from azure_data_engineering_spark.compat import ensure_protobuf

        ensure_protobuf(spark)
        # transformWithState keeps each state variable in its own
        # column family — RocksDB only (HDFSBacked rejects it); see
        # tests/test_rocksdb_state.py for the provider validation
        provider_conf = "spark.sql.streaming.stateStore.providerClass"
        old_provider = spark.conf.get(provider_conf, None)
        spark.conf.set(
            provider_conf,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        import glob
        import os
        import shutil
        import time

        from pyspark.sql import functions as F

        from azure_data_engineering_spark.catalog import load_table
        from azure_data_engineering_spark.streaming.stateful import (
            running_user_type_totals,
        )
        from azure_data_engineering_spark.streaming.windows import run_stream_to_table

        e = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        src = tmp_path / "src"
        src.mkdir()
        for i, pred in enumerate(
            [F.col("event_id") % 3 != 0, F.col("event_id") % 3 == 0]
        ):
            staging = tmp_path / f"stage{i}"
            e.filter(pred).coalesce(1).write.parquet(str(staging))
            part = glob.glob(str(staging / "part-*.parquet"))[0]
            shutil.move(part, str(src / f"b{i}.parquet"))
        now = time.time()
        for i in range(2):  # file order = batch order
            os.utime(src / f"b{i}.parquet", (now - 10 + i, now - 10 + i))
        try:
            got = run_stream_to_table(
                spark,
                str(src),
                running_user_type_totals,
                table_name="tws_live_sink",
                output_mode="update",
                max_files_per_trigger=1,
            ).cache()
            got.count()
        finally:
            if old_provider is None:
                spark.conf.unset(provider_conf)
            else:
                spark.conf.set(provider_conf, old_provider)
        # replay both batch prefixes in batch SQL
        b0 = (
            e.filter(F.col("event_id") % 3 != 0)
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        b0_life = (
            e.filter(F.col("event_id") % 3 != 0)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("lifetime_events"))
        )
        life = e.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        life_cnt = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("lifetime_events"))
        b1_users = e.filter(F.col("event_id") % 3 == 0).select("user_id").distinct()
        want = b0.join(b0_life, "user_id").unionByName(
            life.join(b1_users, "user_id").join(life_cnt, "user_id")
        )
        cols = ["user_id", "event_type", "n_events", "total_value", "lifetime_events"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )


class _FakeTimerHandle(_FakeHandle):
    def __init__(self):
        super().__init__()
        self.timers: list[int] = []

    def registerTimer(self, ts_ms):
        self.timers.append(int(ts_ms))

    def deleteTimer(self, ts_ms):
        self.timers.remove(int(ts_ms))

    def listTimers(self):
        return iter(list(self.timers))


class TestSessionTimeoutProcessor:
    """Timer half of the TWS API (SessionTimeoutProcessor): state
    accumulates silently on input, exactly ONE pending timer per key
    (delete-then-register re-arm), emission + state clear only on
    expiry. The live engine path is TestLiveEngine.test_timer_run."""

    def _proc(self, gap_ms=60_000):
        from azure_data_engineering_spark.streaming.stateful import (
            SessionTimeoutProcessor,
        )

        p = SessionTimeoutProcessor(gap_ms)
        h = _FakeTimerHandle()
        p.init(h)
        return p, h

    def test_input_accumulates_and_rearms_single_timer(self):
        p, h = self._proc()
        b0 = pd.DataFrame({"ts_ms": [1_000, 2_000], "value": [1.0, 2.0]})
        out = list(p.handleInputRows((7,), iter([b0]), None))
        assert out == []  # sessions never emit on input
        assert h.timers == [62_000]  # last_ts + gap
        b1 = pd.DataFrame({"ts_ms": [5_000], "value": [0.5]})
        list(p.handleInputRows((7,), iter([b1]), None))
        assert h.timers == [65_000]  # re-armed, still exactly one
        assert h.states["session"].get() == (3, 3.5, 1_000, 5_000)

    def test_expiry_emits_and_clears(self):
        p, h = self._proc()
        b0 = pd.DataFrame({"ts_ms": [1_000], "value": [4.0]})
        list(p.handleInputRows((9,), iter([b0]), None))
        out = list(p.handleExpiredTimer((9,), None, None))
        assert len(out) == 1
        row = out[0].iloc[0]
        assert (row["user_id"], row["n_events"], row["total_value"]) == (9, 1, 4.0)
        assert (row["first_ts_ms"], row["last_ts_ms"]) == (1_000, 1_000)
        assert not h.states["session"].exists()
        # firing again with no state must emit nothing
        assert list(p.handleExpiredTimer((9,), None, None)) == []


class TestLiveTimers:
    def test_event_time_timer_fires_on_watermark(self, spark, tmp_path):
        """REAL engine, RocksDB, purepb wire shim, EventTime timers:
        batch 1's watermark jump past user 1's (last + gap) timer must
        close user 1's session; user 2 re-arms on fresh input and its
        timer stays ahead of the final watermark, so it never emits."""
        import glob
        import os
        import shutil
        import time

        from pyspark.sql import functions as F

        from azure_data_engineering_spark.compat import ensure_protobuf
        from azure_data_engineering_spark.streaming.stateful import session_timeouts
        from azure_data_engineering_spark.streaming.windows import run_stream_to_table

        ensure_protobuf(spark)
        provider_conf = "spark.sql.streaming.stateStore.providerClass"
        old_provider = spark.conf.get(provider_conf, None)
        spark.conf.set(
            provider_conf,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        src = tmp_path / "src"
        src.mkdir()
        rows0 = [(1, 1000.0, 5.0), (1, 1010.0, 7.0), (2, 1005.0, 3.0)]
        rows1 = [(2, 5000.0, 2.0)]
        for i, rows in enumerate([rows0, rows1]):
            df = spark.createDataFrame(
                rows, "user_id long, sec double, value double"
            ).select("user_id", F.timestamp_seconds("sec").alias("ts"), "value")
            staging = tmp_path / f"stage{i}"
            df.coalesce(1).write.parquet(str(staging))
            part = glob.glob(str(staging / "part-*.parquet"))[0]
            shutil.move(part, str(src / f"b{i}.parquet"))
        now = time.time()
        for i in range(2):  # file order = batch order
            os.utime(src / f"b{i}.parquet", (now - 10 + i, now - 10 + i))
        try:
            got = run_stream_to_table(
                spark,
                str(src),
                lambda s: session_timeouts(s, gap_ms=60_000),
                table_name="tws_timer_test_sink",
                output_mode="append",
                max_files_per_trigger=1,
            ).collect()
        finally:
            if old_provider is None:
                spark.conf.unset(provider_conf)
            else:
                spark.conf.set(provider_conf, old_provider)
        assert len(got) == 1
        r = got[0]
        # user 1: both events merged, closed by the watermark jump
        assert (r["user_id"], r["n_events"], r["total_value"]) == (1, 2, 12.0)
        assert (r["first_ts_ms"], r["last_ts_ms"]) == (1_000_000, 1_010_000)


class TestLiveProcessingTimeTimers:
    def test_idle_key_flushes_on_wall_clock(self, spark, tmp_path):
        """REAL engine, ProcessingTime timers: key 1 gets input only in
        batch 0; a foreachBatch sink sleeps 4s per batch (idle_ms=3s),
        so by the time batch 1 (key 2 only) runs, key 1's timer has
        wall-expired and its count must flush. Key 2 re-arms on its
        own input; whether a trailing no-data batch fires it depends
        on wall timing, so the test asserts key 1's row exactly and,
        for key 2, only that any flush carries its full total.

        ProcessingTime timers make every batch ask for another one, so
        the availableNow query does not end by itself: the test stops
        it after batch 2, the first no-data batch past both flushes."""
        import glob
        import os
        import shutil
        import threading
        import time

        from azure_data_engineering_spark.compat import ensure_protobuf
        from azure_data_engineering_spark.streaming.stateful import idle_key_flush

        ensure_protobuf(spark)
        provider_conf = "spark.sql.streaming.stateStore.providerClass"
        old_provider = spark.conf.get(provider_conf, None)
        spark.conf.set(
            provider_conf,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        src = tmp_path / "src"
        src.mkdir()
        rows0 = [(1, 1.0), (1, 2.0), (2, 3.0)]
        rows1 = [(2, 4.0)]
        for i, rows in enumerate([rows0, rows1]):
            df = spark.createDataFrame(rows, "user_id long, value double")
            staging = tmp_path / f"stage{i}"
            df.coalesce(1).write.parquet(str(staging))
            part = glob.glob(str(staging / "part-*.parquet"))[0]
            shutil.move(part, str(src / f"b{i}.parquet"))
        now = time.time()
        for i in range(2):  # file order = batch order
            os.utime(src / f"b{i}.parquet", (now - 10 + i, now - 10 + i))
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        results = []
        past_flushes = threading.Event()

        def sink(df, batch_id):
            results.extend(df.collect())
            if batch_id >= 2:
                past_flushes.set()
            else:
                time.sleep(4.0)  # wall time so PT timers expire between batches

        q = None
        try:
            q = (
                idle_key_flush(stream, idle_ms=3_000)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            deadline = time.monotonic() + 180
            while q.isActive and not past_flushes.wait(1):
                assert time.monotonic() < deadline, "batch 2 never ran"
            assert q.exception() is None, q.exception()
        finally:
            if q is not None:
                q.stop()
            if old_provider is None:
                spark.conf.unset(provider_conf)
            else:
                spark.conf.set(provider_conf, old_provider)
        by_key = {}
        for r in results:
            by_key.setdefault(r["user_id"], []).append(r["n_events"])
        assert by_key.get(1) == [2]  # flushed once, both batch-0 rows
        for n in by_key.get(2, []):
            assert n == 2  # a key-2 flush must carry its full total
