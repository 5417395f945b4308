"""Spans around every call the benchmark makes into an engine layer.

A span records its layer, name, start, end, parent span and the op id
shared by all spans of one op, plus counts the benchmark attaches where
the work happens. Each span runs under its own Spark job group, so the
stages its jobs ran are attributed to it alone (a nested span's jobs
belong to the nested span). Stage totals are read from the driver's
status store after the op has finished, outside the op's latency.

Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# metric prefix -> engine module, in report order
LAYERS = {
    "excel": "sources.excel",
    "csv_pipe": "sources.csv_pipe",
    "expectations": "operators.expectations",
    "snapshot": "sources.snapshot + operators.upsert",
    "pipeline": "pipeline",
    "dedup": "operators.dedup",
    "clustering": "operators.clustering",
    "ivf": "operators.ivf",
}
STAGE_FIELDS = ("executor_run_ms", "shuffle_write_bytes", "spill_bytes", "tasks", "input_records", "output_records")


class Tracer:
    """Records spans while ``active``; when inactive, ``span`` costs one
    dict allocation, so the same op code runs traced and untraced."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.active = False
        self.op_id: str | None = None
        self.spans: list[dict] = []
        self.collect_s = 0.0
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, layer: str, name: str):
        counts: dict = {}
        if not self.active:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "counts": counts,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent["group"] if parent else None)
            self._pending.append(rec)

    def collect(self) -> None:
        """Attach stage totals to the spans closed since the last call.
        Waits for the listener bus first, so the status store has seen
        every task of the finished jobs."""
        if not self._pending:
            return
        t0 = time.perf_counter()
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_tasks = sc._jvm.java.util.Collections.emptyList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for rec in self._pending:
            tot = dict.fromkeys(STAGE_FIELDS, 0)
            seen: set[int] = set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
                    for a in range(attempts.size()):
                        sd = attempts.apply(a)
                        tot["executor_run_ms"] += sd.executorRunTime()
                        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        tot["tasks"] += sd.numCompleteTasks()
                        tot["input_records"] += sd.inputRecords()
                        tot["output_records"] += sd.outputRecords()
            rec["stages"] = tot
        self.spans.extend(self._pending)
        self._pending.clear()
        self.collect_s += time.perf_counter() - t0

    # ------------------------------------------------------------ reading

    def find(self, layer: str, name: str | None = None) -> list[dict]:
        """Spans of the timed pass (set-up spans excluded)."""
        return [
            s
            for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name) and s["op"] != "setup"
        ]

    def mean_s(self, layer: str, name: str) -> float:
        spans = self.find(layer, name)
        return sum(s["end"] - s["start"] for s in spans) / len(spans) if spans else 0.0

    def count_sum(self, layer: str, name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in self.find(layer, name))

    def stage_sum(self, layer: str, name: str, key: str) -> int:
        return sum(s["stages"][key] for s in self.find(layer, name))

    def layer_metrics(self) -> dict[str, float]:
        """Per layer, over the timed pass: calls, busy and self seconds,
        stage totals, and idle core seconds (busy x cores minus executor
        run time: core time the layer held while no task ran)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        layer_of = {s["id"]: s["layer"] for s in self.spans}
        out: dict[str, float] = {}
        for layer in [*LAYERS, "op"]:
            spans = self.find(layer)
            top = [s for s in spans if layer_of.get(s["parent"]) != layer]
            busy = sum(s["end"] - s["start"] for s in top)
            self_s = sum(s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in spans)
            if layer == "op":
                out["op.self_s"] = self_s
                continue
            run_ms = sum(s["stages"]["executor_run_ms"] for s in spans)
            out[f"{layer}.calls"] = len(top)
            out[f"{layer}.busy_s"] = busy
            out[f"{layer}.self_s"] = self_s
            out[f"{layer}.executor_run_ms"] = run_ms
            for key in ("shuffle_write_bytes", "spill_bytes", "tasks"):
                out[f"{layer}.{key}"] = sum(s["stages"][key] for s in spans)
            out[f"{layer}.idle_core_s"] = busy * self.cores - run_ms / 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
