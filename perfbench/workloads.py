"""The workloads: set-up, one timed op, and the op's output check.

Each workload is a closed loop with one client: ``run.py`` calls
``prepare(i)`` (input generation, untimed), ``op(i)`` (timed), then
``check(i)`` (untimed). Every call into an engine layer sits inside a
tracer span; the spans are no-ops unless the run is traced.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import gen, oracle

# Sizes keep one run near a minute on a 4-core box; an op's cost is
# mostly fixed per-job overhead, so smaller inputs would save little.
SIZES = {
    "full": {
        "etl_upsert": {"base_orders": 125_000, "batch_rows": 10_000, "maintain_every": 3},
        "corpus_curation": {"docs": 2_000, "vectors": 2_000, "nlist": 8, "probes": 8},
    },
    "smoke": {
        "etl_upsert": {"base_orders": 500, "batch_rows": 200, "maintain_every": 2},
        "corpus_curation": {"docs": 200, "vectors": 400, "nlist": 4, "probes": 2},
    },
}
MIN_TOKENS = 20  # corpus quality floor
VERIFY_JACCARD = 0.5  # candidate pairs at or above this are near-duplicates
DUP_RECALL_FLOOR = 0.8  # a shard below this recall fails its check
ANN_RECALL_FLOOR = 0.1  # an ANN query below this recall fails its check
WARMUP_SEED_OFFSET = 1_000_003  # warm-up inputs never coincide with timed ones


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median_build(build, repeats: int) -> float:
    """Run ``build(r)`` ``repeats`` times and return the median seconds;
    the last build's result is the one the workload keeps."""
    times = []
    for r in range(repeats):
        t0 = time.perf_counter()
        build(r)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Workload:
    name = ""
    nominal_op_s = 1.0  # sizes the op count: ceil(--seconds / nominal_op_s)
    build_repeats = 1  # set-up builds per run; set-up time takes their median

    def __init__(self, ctx, size: dict):
        self.ctx = ctx
        self.size = size
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.root = os.path.join(ctx.work, self.name)
        os.makedirs(self.root, exist_ok=True)

    def setup(self) -> dict[str, float]:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def finish(self) -> set[int]:
        """Checks run after the loop; returns the indices of failed ops."""
        return set()

    def report(self) -> dict[str, float]:
        """Workload-specific end-to-end figures."""
        return {}

    def layer_report(self) -> dict[str, float]:
        """Layer-specific figures from the trace."""
        return {}


# ---------------------------------------------------------------- etl


class EtlUpsert(Workload):
    name = "etl_upsert"
    nominal_op_s = 4.0
    build_repeats = 3

    def __init__(self, ctx, size):
        super().__init__(ctx, size)
        from pyspark.sql.types import DateType, DoubleType, IntegerType, LongType, StringType, StructField, StructType

        types = {"bigint": LongType(), "int": IntegerType(), "double": DoubleType(), "string": StringType(), "date": DateType()}
        self.schema = StructType([StructField(c, types[t]) for c, t in gen.LINEITEM])
        self.table = os.path.join(self.root, "table")
        self.stage = os.path.join(self.root, "stage")
        self.batches: dict[int, gen.Batch] = {}
        self.outs: dict[int, dict] = {}
        self.csv_bytes = 0
        self.csv_written: list[int] = []
        self.table_written: list[int] = []  # bytes under the table dir, per op
        self.files_written: list[int] = []  # data files, per op
        self.versions_live: list[int] = []
        self.space_amps: list[float] = []
        self.distinct_keys: dict[int, int] = {}
        self.staged: dict[int, str] = {}
        self.last_op: int | None = None

    def _suite(self):
        from azure_data_engineering_spark.operators.expectations import Suite

        return (
            Suite()
            .not_null("l_orderkey")
            .not_null("l_linenumber")
            .in_range("l_quantity", 1.0, 50.0)
            .in_range("l_discount", 0.0, 0.10)
            .accepted_values("l_returnflag", ["A", "N", "R"])
            .matches("l_shipmode", "^[A-Z ]+$")
        )

    @staticmethod
    def batch_date(i: int) -> dt.date:
        return dt.date(2024, 1, 1) + dt.timedelta(days=i)

    def stage_name(self, i: int) -> str:
        return f"adffact-ls-{self.batch_date(i):%Y%m%d}120000-b{i:05d}"

    def _write_inbox(self, batch: gen.Batch, inbox: str) -> None:
        shutil.rmtree(inbox, ignore_errors=True)
        gen.write_workbooks(batch, inbox)

    def report_sql(self, sql: str, table: str) -> list[tuple]:
        """The SQL step: one ``run_sql`` over a view of the current snapshot,
        result fetched."""
        from azure_data_engineering_spark import pipeline
        from azure_data_engineering_spark.sources.snapshot import snapshot_read

        with self.tr.span("snapshot", "snapshot_read") as s:
            view = snapshot_read(self.spark, table)
            view.createOrReplaceTempView("lineitem")
            s["files"] = len(view.inputFiles())
        with self.tr.span("pipeline", "run_sql") as s:
            res = pipeline.run_sql(self.sql, sql)
            if not res.ok:
                raise RuntimeError(res.detail["error"])
            rows = [tuple(r) for r in res.detail["result"].collect()]
            s["result_rows"] = len(rows)
        return rows

    def run_batch(self, b: int, inbox: str, table: str, stage: str, maintain: bool, queries: list[str]) -> dict:
        """Batch ``b`` through the reference's step chain: Excel to pipe CSV,
        quality gate, upsert, SQL, and every few batches the cleanup."""
        from pyspark.sql import functions as F

        from azure_data_engineering_spark import pipeline
        from azure_data_engineering_spark.operators.expectations import check
        from azure_data_engineering_spark.sources.csv_pipe import read_pipe_csv, write_pipe_csv
        from azure_data_engineering_spark.sources.excel import ingest_excel_distributed
        from azure_data_engineering_spark.sources.snapshot import snapshot_merge, vacuum

        tr, spark = self.tr, self.spark
        out: dict = {}
        with tr.span("excel", "ingest_excel_distributed") as s:
            raw = ingest_excel_distributed(spark, inbox, sanitize=True)
            flat = raw.filter(F.col("row_idx") > 0).select(
                *[F.col("cells")[j].alias(c) for j, c in enumerate(gen.COLUMNS)]
            ).persist()
            out["rows_parsed"] = s["rows_parsed"] = flat.count()
            s["workbooks"] = len(os.listdir(inbox))
        stage_dir = os.path.join(stage, self.stage_name(b))
        with tr.span("csv_pipe", "write_pipe_csv"):
            write_pipe_csv(flat, stage_dir)
        with tr.span("csv_pipe", "read_pipe_csv") as s:
            typed = read_pipe_csv(spark, stage_dir, schema=self.schema).persist()
            out["rows_read"] = s["rows"] = typed.count()
        flat.unpersist()
        with tr.span("expectations", "check"):
            out["passed"] = bool(check(typed, self._suite()).collect()[0]["passed"])
        with tr.span("snapshot", "snapshot_merge"):
            snapshot_merge(typed, table, gen.PK)
        typed.unpersist()
        out["sql"] = [(sql, self.report_sql(sql, table)) for sql in queries]
        if maintain:
            with tr.span("pipeline", "maintain"):
                listing = spark.createDataFrame([(n,) for n in sorted(os.listdir(stage))], "name string")
                res = pipeline.maintain(listing, "name", "-ls-", "fact", F.lit(self.batch_date(b)).cast("date"), daydiff=-2)
                if not res.ok:
                    raise RuntimeError(res.detail["error"])
                out["doomed"] = sorted(res.detail["to_delete"])
                for name in out["doomed"]:
                    shutil.rmtree(os.path.join(stage, name))
            with tr.span("snapshot", "vacuum") as s:
                s["files_removed"] = vacuum(table, keep_last=2)
        return out

    def setup(self) -> dict[str, float]:
        from azure_data_engineering_spark.sources.snapshot import snapshot_write

        t0 = time.perf_counter()
        base = os.path.join(self.root, "base")
        gen.base_table(self.ctx.seed, self.size["base_orders"], base)
        self.model = oracle.UpsertModel(self.ctx.duck, base)
        self.prepare(-1)
        gen_s = time.perf_counter() - t0

        def build(r: int) -> None:
            shutil.rmtree(self.table, ignore_errors=True)
            with self.tr.span("snapshot", "snapshot_write"):
                snapshot_write(self.spark.read.parquet(base), self.table)

        build_s = _median_build(build, self.build_repeats)
        # the stream's first batch warms every path on the real table, so
        # the timed ops start warm; it is replayed into the model like any
        # other batch but counts into no metric
        self.sql = _TimedSql(self.spark, self.tr)
        self.before = _files(self.table)
        t0 = time.perf_counter()
        self.op(-1)
        warm_s = time.perf_counter() - t0
        if not self.check(-1, record=False):
            raise RuntimeError("warm-up batch failed its check")
        return {"input_gen_s": gen_s, "warmup_s": warm_s, "build_s": build_s}

    def prepare(self, i: int) -> None:
        """Op ``i`` merges batch ``i + 1`` of the stream; batch 0 is the warm-up."""
        b = gen.etl_batch(self.ctx.seed, i + 1, self.size["base_orders"], self.size["batch_rows"])
        self.batches[i] = b
        self._write_inbox(b, os.path.join(self.root, "inbox", str(i)))

    def op(self, i: int) -> int:
        batch = self.batches[i]
        maintain = batch.index % self.size["maintain_every"] == 0
        queries = gen.report_queries(self.ctx.seed, batch.index, batch)
        self.outs[i] = self.run_batch(batch.index, os.path.join(self.root, "inbox", str(i)), self.table, self.stage, maintain, queries)
        self.last_op = i
        return len(batch.rows)

    def check(self, i: int, record: bool = True) -> bool:
        batch, out = self.batches.pop(i), self.outs.pop(i)
        b = batch.index
        shutil.rmtree(os.path.join(self.root, "inbox", str(i)), ignore_errors=True)
        after = _files(self.table)
        live = oracle.manifest_files(self.table)
        cols = oracle.sanitized(batch)
        if record:
            new = [p for p, st in after.items() if self.before.get(p) != st]
            self.csv_written.append(sum(sz for sz, _ in _files(os.path.join(self.stage, self.stage_name(b))).values()))
            self.table_written.append(sum(after[p][0] for p in new))
            self.files_written.append(sum(p.endswith(".parquet") for p in new))
            self.versions_live.append(len(os.listdir(os.path.join(self.table, "_manifests"))))
            self.space_amps.append(sum(sz for sz, _ in after.values()) / sum(after[p][0] for p in live))
            self.csv_bytes += oracle.csv_text_bytes(cols)
            self.distinct_keys[i] = batch.planted["distinct_keys"]
        self.before = after
        if self.ctx.corrupt == i:
            _corrupt_one_row(live[0])
        self.model.apply(cols)
        ok = out["rows_parsed"] == out["rows_read"] == len(batch.rows) and out["passed"]
        sql_model = oracle.SqlModel(self.ctx.duck, live)
        ok = ok and all(oracle.same_rows(rows, sql_model.rows(sql)) for sql, rows in out["sql"])
        self.staged[b] = self.stage_name(b)
        if "doomed" in out:
            ref = self.batch_date(b)
            window = (ref - dt.timedelta(days=62), ref - dt.timedelta(days=2))
            doomed = sorted(n for k, n in self.staged.items() if window[0] <= self.batch_date(k) <= window[1])
            ok = ok and out["doomed"] == doomed
            self.staged = {k: n for k, n in self.staged.items() if n not in doomed}
        return ok and self.model.matches(live)

    def finish(self) -> set[int]:
        """Exact final comparison; a mismatch fails the last op."""
        if self.last_op is None or self.model.diff(oracle.manifest_files(self.table)) == 0:
            return set()
        return {self.last_op}

    def report(self) -> dict[str, float]:
        return {
            "write_amp": sum(self.table_written) / self.csv_bytes if self.csv_bytes else 0.0,
            "space_amp": _mean(self.space_amps),
        }

    def layer_report(self) -> dict[str, float]:
        tr = self.tr
        merges = tr.find("snapshot", "snapshot_merge")
        useful = sum(self.distinct_keys.get(s["op"], 0) for s in merges)
        return {
            "excel.workbooks": tr.count_sum("excel", "ingest_excel_distributed", "workbooks"),
            "excel.rows_parsed": tr.count_sum("excel", "ingest_excel_distributed", "rows_parsed"),
            "csv_pipe.write_s": tr.mean_s("csv_pipe", "write_pipe_csv"),
            "csv_pipe.read_s": tr.mean_s("csv_pipe", "read_pipe_csv"),
            "csv_pipe.bytes_written": _mean(self.csv_written),
            "expectations.check_s": tr.mean_s("expectations", "check"),
            "snapshot.merge_s": tr.mean_s("snapshot", "snapshot_merge"),
            "snapshot.rewrite_ratio": tr.stage_sum("snapshot", "snapshot_merge", "output_records") / useful if useful else 0.0,
            "snapshot.vacuum_s": tr.mean_s("snapshot", "vacuum"),
            "snapshot.bytes_written": _mean(self.table_written),
            "snapshot.files_written": _mean(self.files_written),
            "snapshot.versions_live": _mean(self.versions_live),
            **_sql_layer_report(tr),
        }


def _sql_layer_report(tr) -> dict[str, float]:
    sql = tr.find("pipeline", "run_sql")
    examined = sum(s["stages"]["input_records"] for s in sql)
    results = sum(max(s["counts"].get("result_rows", 0), 1) for s in sql)
    reads = tr.find("snapshot", "snapshot_read")
    return {
        "snapshot.read_s": tr.mean_s("snapshot", "snapshot_read"),
        "snapshot.files_per_version": _mean(s["counts"]["files"] for s in reads),
        "run_sql.analyze_s": tr.mean_s("pipeline", "run_sql.analyze"),
        "run_sql.exec_s": tr.mean_s("pipeline", "run_sql") - tr.mean_s("pipeline", "run_sql.analyze"),
        "run_sql.rows_examined_per_result": examined / results if results else 0.0,
    }


class _TimedSql:
    """Hands ``pipeline.run_sql`` a session whose ``sql`` call (parse and
    analysis) runs inside its own span."""

    def __init__(self, spark, tracer):
        self._spark, self._tr = spark, tracer

    def sql(self, text: str):
        with self._tr.span("pipeline", "run_sql.analyze"):
            return self._spark.sql(text)


def _corrupt_one_row(path: str) -> None:
    """Alter one merged row in place (smoke test of the checks)."""
    tbl = pq.read_table(path)
    q = tbl.column("l_quantity").to_pylist()
    q[0] = q[0] + 1.0
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("l_quantity"), "l_quantity", [q]), path)


# ---------------------------------------------------------------- corpus


class CorpusCuration(Workload):
    name = "corpus_curation"
    nominal_op_s = 6.0

    def __init__(self, ctx, size):
        super().__init__(ctx, size)
        self.index = os.path.join(self.root, "ivf-index")
        self.shards: dict[int, gen.Corpus] = {}
        self.probes: dict[int, list] = {}
        self.outs: dict[int, dict] = {}
        self.dup_recalls: list[float] = []
        self.ann_recalls: dict[int, float] = {}

    def path(self, i, part: str) -> str:
        return os.path.join(self.root, f"shard{i}", part)

    def curate(self, i, probes: list[tuple[int, list[float]]]) -> dict:
        """One shard through the curation job; returns what the job
        hands downstream (pair list and cluster map are small)."""
        from pyspark.sql import functions as F

        from azure_data_engineering_spark import pipeline
        from azure_data_engineering_spark.operators.clustering import connected_components
        from azure_data_engineering_spark.operators.dedup import minhash_lsh_candidates, shingles

        tr, spark = self.tr, self.spark
        out: dict = {}
        docs = spark.read.parquet(self.path(i, "input.parquet"))
        with tr.span("pipeline", "clean_corpus") as s:
            res = pipeline.clean_corpus(docs, self.path(i, "clean"), min_tokens=MIN_TOKENS, cap_per_source=10**9)
            if not res.ok:
                raise RuntimeError(res.detail["error"])
            out["rows_out"] = s["rows_out"] = res.detail["rows_out"]
        clean = spark.read.parquet(self.path(i, "clean"))
        with tr.span("dedup", "minhash_lsh_candidates") as s:
            cand = minhash_lsh_candidates(clean, "text", "doc_id").persist()
            out["candidates"] = s["candidates"] = cand.count()
        with tr.span("dedup", "verify") as s:
            ids = cand.select(F.col("id_a").alias("doc_id")).union(cand.select(F.col("id_b").alias("doc_id"))).distinct()
            sh = clean.join(ids, "doc_id", "left_semi").select("doc_id", shingles(F.col("text")).alias("sh"))
            a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
            b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
            jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
            verified = (
                cand.join(a, "id_a").join(b, "id_b")
                .select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= VERIFY_JACCARD)
                .persist()
            )
            out["pairs"] = [(r.id_a, r.id_b) for r in verified.select("id_a", "id_b").collect()]
            s["verified"] = len(out["pairs"])
        cand.unpersist()
        with tr.span("clustering", "connected_components") as s:
            comp = connected_components(verified, "id_a", "id_b")
            out["components"] = {r.node: r.component for r in comp.collect()}
            s["components"] = len(set(out["components"].values()))
        verified.unpersist()
        dropped = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias("doc_id"))
        clean.join(dropped, "doc_id", "left_anti").write.parquet(self.path(i, "survivors"))
        out["ann"] = self.probe(probes)
        return out

    def probe(self, probes: list[tuple[int, list[float]]]) -> dict[int, list[tuple[int, float]]]:
        """Decontamination probe: IVF-PQ top-10 of the shard's probe
        vectors against the reference index."""
        from azure_data_engineering_spark.operators.ivf import ivfpq_search_index

        with self.tr.span("ivf", "ivfpq_search_index") as s:
            qdf = self.spark.createDataFrame(probes, "vec_id long, embedding array<double>")
            rows = ivfpq_search_index(qdf, self.vectors, self.centroids, self.codebooks, self.index, k=10).collect()
            s["result_rows"] = len(rows)
        hits: dict[int, list] = {q: [] for q, _ in probes}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            hits[r.query_id].append((r.neighbor_id, r.cosine))
        return hits

    def _write_shard(self, i: int, corpus: gen.Corpus) -> None:
        shutil.rmtree(os.path.join(self.root, f"shard{i}"), ignore_errors=True)
        os.makedirs(os.path.join(self.root, f"shard{i}"))
        gen.write_corpus(corpus, self.path(i, "input.parquet"))

    def setup(self) -> dict[str, float]:
        from azure_data_engineering_spark.operators.ivf import ivf_index_build, train_centroids, train_pq_codebooks

        seed, size = self.ctx.seed, self.size
        t0 = time.perf_counter()
        wseed = seed + WARMUP_SEED_OFFSET
        # a full-size warm-up shard: with a tiny one the first timed ops
        # still run 10-20% slower while the JIT catches up
        self._write_shard("warm", gen.corpus_shard(wseed, 0, size["docs"], min_tokens=MIN_TOKENS))
        self.vecs = gen.embeddings(seed, size["vectors"])
        vec_path = os.path.join(self.root, "reference.parquet")
        gen.write_embeddings(self.vecs, vec_path)
        self.ann = oracle.AnnModel(self.vecs)
        gen_s = time.perf_counter() - t0

        def build(r: int) -> None:
            shutil.rmtree(self.index, ignore_errors=True)
            with self.tr.span("ivf", "build"):
                self.vectors = self.spark.read.parquet(vec_path)
                self.centroids = train_centroids(self.vectors, "embedding", size["nlist"], id_col="vec_id")
                self.codebooks = train_pq_codebooks(self.vectors, "embedding", 64, id_col="vec_id")
                ivf_index_build(self.vectors, self.centroids, self.codebooks, self.index)

        build_s = _median_build(build, self.build_repeats)
        t0 = time.perf_counter()
        self.curate("warm", gen.probe_vectors(wseed, 0, self.vecs, size["probes"]))
        warm_s = time.perf_counter() - t0
        return {"input_gen_s": gen_s, "warmup_s": warm_s, "build_s": build_s}

    def prepare(self, i: int) -> None:
        self.shards[i] = gen.corpus_shard(self.ctx.seed, i, self.size["docs"], min_tokens=MIN_TOKENS)
        self.probes[i] = gen.probe_vectors(self.ctx.seed, i, self.vecs, self.size["probes"])
        self._write_shard(i, self.shards[i])

    def op(self, i: int) -> int:
        self.outs[i] = self.curate(i, self.probes[i])
        return len(self.shards[i].docs)

    def check(self, i: int) -> bool:
        corpus, out, probes = self.shards.pop(i), self.outs.pop(i), self.probes.pop(i)
        model = oracle.CorpusModel(corpus.docs, MIN_TOKENS)
        clean = set(pq.read_table(self.path(i, "clean"), columns=["doc_id"]).column(0).to_pylist())
        survivors = pq.read_table(self.path(i, "survivors"), columns=["doc_id"]).column(0).to_pylist()
        if self.ctx.corrupt == i:
            survivors = survivors[1:]
        ok = clean == model.clean_ids and out["rows_out"] == len(model.clean_ids)
        ok = ok and all(a < b and model.jaccard(a, b) >= VERIFY_JACCARD for a, b in out["pairs"])
        comp = oracle.components(out["pairs"])
        ok = ok and comp == out["components"]
        want = {d for d in model.clean_ids if comp.get(d, d) == d}
        ok = ok and len(survivors) == len(want) and set(survivors) == want
        near = corpus.planted["near_pairs"]
        recall = sum(1 for a, b, _ in near if a in comp and comp.get(a) == comp.get(b)) / len(near)
        self.dup_recalls.append(recall)
        ann_ok = True
        ann_recalls = []
        for q, vec in probes:
            got = out["ann"][q][1:] if self.ctx.corrupt == i else out["ann"][q]
            r, well_formed = self.ann.score(vec, got)
            ann_recalls.append(r)
            ann_ok = ann_ok and well_formed and r >= ANN_RECALL_FLOOR
        self.ann_recalls[i] = statistics.fmean(ann_recalls)
        shutil.rmtree(os.path.join(self.root, f"shard{i}"), ignore_errors=True)
        return ok and ann_ok and recall >= DUP_RECALL_FLOOR

    def report(self) -> dict[str, float]:
        return {
            "dup_recall": _mean(self.dup_recalls),
            "ann_recall_at_10": _mean(self.ann_recalls.values()),
        }

    def layer_report(self) -> dict[str, float]:
        tr = self.tr
        cand = tr.count_sum("dedup", "minhash_lsh_candidates", "candidates")
        calls = len(tr.find("pipeline", "clean_corpus")) or 1
        ann = [self.ann_recalls[s["op"]] for s in tr.find("ivf", "ivfpq_search_index") if s["op"] in self.ann_recalls]
        builds = [s["end"] - s["start"] for s in tr.spans if s["op"] == "setup" and s["name"] == "build"]
        return {
            "clean_corpus.s": tr.mean_s("pipeline", "clean_corpus"),
            "clean_corpus.rows_out": tr.count_sum("pipeline", "clean_corpus", "rows_out") / calls,
            "dedup.minhash_s": tr.mean_s("dedup", "minhash_lsh_candidates"),
            "dedup.candidates": cand / calls,
            "dedup.candidate_precision": tr.count_sum("dedup", "verify", "verified") / cand if cand else 0.0,
            "clustering.cc_s": tr.mean_s("clustering", "connected_components"),
            "clustering.components": tr.count_sum("clustering", "connected_components", "components") / calls,
            "ivf.search_s": tr.mean_s("ivf", "ivfpq_search_index"),
            "ivf.recall_at_10": _mean(ann),
            "ivf.build_s": statistics.median(builds) if builds else 0.0,
        }


WORKLOADS = {w.name: w for w in (EtlUpsert, CorpusCuration)}


