"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end and emits every metric the benchmark
declares, with its unit; a deliberately corrupted result turns into a
failed op; the generators are deterministic; the benchmark refuses to
run without the engine package.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORKLOAD_NAMES = sorted(WORKLOADS)


@pytest.fixture
def work(request):
    """A scratch directory inside the checkout, removed afterwards."""
    path = os.path.join(run.WORK, f"test-{request.node.name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "3", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_traced_run_emits_every_layer_metric(workload):
    res = _result(_bench("--workload", workload, "--trace", "1", "--scale", "smoke"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.per_layer_units()
    assert res["metrics"]["session.start_s"]["value"] > 0
    assert res["metrics"]["trace.traced_op_ms"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_corrupted_result_is_a_failed_op(workload):
    proc = _bench("--workload", workload, "--trace", "0", "--scale", "smoke", "--corrupt", "0")
    res = _result(proc)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(res["metrics"][k]["value"] > 0 for k in ("setup_s", "op_p50_ms", "peak_rss_mb"))
    report = json.loads(proc.stdout.strip().splitlines()[-2].split("perfbench report ", 1)[1])
    assert set(report["metrics"]) == set(run.END_TO_END) | {"rows_per_s", "ops_per_s", "op_tail_ms", "wall_s", "failed_ratio"} | set(
        {"etl_upsert": ["write_amp", "space_amp"], "corpus_curation": ["dup_recall", "ann_recall_at_10"]}[workload]
    )
    assert res["failed"] >= 1 and not res["correct"]
    assert 0 in report["failed_ops"]


def test_generators_are_deterministic(work):
    def digest(seed: int, sub: str) -> str:
        d = os.path.join(work, sub)
        batch = gen.etl_batch(seed, 2, 1000, 400)
        gen.write_workbooks(batch, os.path.join(d, "wb"))
        gen.base_table(seed, 100, os.path.join(d, "base"))
        gen.write_corpus(gen.corpus_shard(seed, 1, 200), os.path.join(d, "corpus.parquet"))
        gen.write_embeddings(gen.embeddings(seed, 50), os.path.join(d, "vec.parquet"))
        h = hashlib.sha256()
        for root, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                with open(os.path.join(root, n), "rb") as f:
                    h.update(n.encode() + f.read())
        h.update(repr(gen.report_queries(seed, 2, batch)).encode())
        h.update(repr(gen.probe_vectors(seed, 1, gen.embeddings(seed, 50), 4)).encode())
        return h.hexdigest()

    assert digest(7, "a") == digest(7, "b")
    assert digest(7, "c") != digest(8, "d")


def test_planted_properties_hold():
    batch = gen.etl_batch(5, 0, 10_000, 2_000)
    p = batch.planted
    assert p["rows"] == len(batch.rows) and abs(p["update_share"] - 0.30) < 0.01 and abs(p["dup_share"] - 0.02) < 0.005
    assert p["hostile_cells"] > 0
    keys = [(r[0], r[1]) for r in batch.rows]
    assert len(keys) - len(set(keys)) == p["dup_key_rows"]
    corpus = gen.corpus_shard(5, 0, 400)
    texts = {d: t for d, _, t in corpus.docs}
    for a, b in corpus.planted["exact_pairs"]:
        assert gen.normalize(texts[a]) == gen.normalize(texts[b])
    for a, b, j in corpus.planted["near_pairs"]:
        assert 0.6 <= gen.jaccard(gen.shingle_set(texts[a]), gen.shingle_set(texts[b])) == j <= 0.9
    model = oracle.CorpusModel(corpus.docs, 20)
    assert len(model.clean_ids) == len(corpus.docs) - corpus.planted["below_floor"] - corpus.planted["exact_dups"]


def test_refuses_to_run_without_the_engine(work):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work)
    shutil.copytree(HERE, os.path.join(work, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "etl_upsert", "--trace", "0", cwd=work)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
