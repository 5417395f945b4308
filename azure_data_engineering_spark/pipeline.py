"""Pipeline facade — the engine's public API surface (SURVEY.md §2C).

The reference exposes four HTTP steps routed by `?step=`
(adffunction/__init__.py:231-307): exceltocsv, blobtopostgres,
callstoredproc, cleanup. This facade is the same surface as a library:

  ingest_excel(...)   <- step=exceltocsv  (__init__.py:253-267)
  load_table(...)     <- step=blobtopostgres (__init__.py:237-251)
  run_sql(...)        <- step=callstoredproc (__init__.py:282-293)
  maintain(...)       <- step=cleanup (__init__.py:269-280)

Each returns the reference's result contract — status, elapsed
seconds, counts (cf. `"success. Time Taken- {t2-t1}."`,
adffunction/__init__.py:106-113) — as a structured dict instead of a
substring-matched string.

run_sql is the one step that returns before its work is done: a
query's result is a lazy DataFrame that the caller's action runs once,
so its runtime errors raise at that action and the step's seconds
cover parse and analysis only.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.datetime_utils import retention_match
from azure_data_engineering_spark.sources.csv_pipe import write_pipe_csv
from azure_data_engineering_spark.sources.excel import ingest_excel_distributed
from azure_data_engineering_spark.operators.upsert import default_dedup_order, merge_upsert


@dataclass
class StepResult:
    """Reference result contract (status + elapsed + counts),
    structured."""

    status: str
    seconds: float
    detail: dict[str, Any] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.status == "success"


def _timed(fn: Callable[[], dict[str, Any]]) -> StepResult:
    t1 = time.perf_counter()
    try:
        detail = fn()
    except Exception as exc:  # mirror the reference's Error-string contract
        # str(), not repr(): a Spark exception's repr drops its message
        return StepResult("error", time.perf_counter() - t1, {"error": f"{type(exc).__name__}: {exc}"})
    return StepResult("success", time.perf_counter() - t1, detail)


def ingest_excel(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    sheet_list: str = "all",
    overwrite: bool = False,
    sanitize: bool = True,
) -> StepResult:
    """step=exceltocsv: a workbook, or a folder's `*.xls*` workbooks
    (__init__.py:91-104) → one pipe-CSV folder per sheet, named
    `{sanitized_basename}_{sheet}` (HelperFunction.py:30-31), columns
    c0..cN padded with "" to the sheet's widest row; a sheet with no
    rows lands as an empty folder. overwrite reproduces
    remove_file_in_to_blob pre-truncate (__init__.py:78-80)."""

    def run() -> dict[str, Any]:
        cells = ingest_excel_distributed(spark, src_path, sheet_list=sheet_list, sanitize=sanitize).persist()
        try:
            widths = dict(cells.groupBy("source_name").agg(F.max(F.size("cells"))).collect())
            for name, width in widths.items():
                # get() is null past a ragged row's end, where cells[i] raises
                # under ANSI; an empty sheet (width 0) still needs a column to write
                rows = cells.filter((F.col("source_name") == name) & F.col("row_idx").isNotNull())
                padded = [F.coalesce(F.get("cells", i), F.lit("")).alias(f"c{i}") for i in range(max(width, 1))]
                write_pipe_csv(rows.select(*padded), f"{dst_path}/{name}", mode="overwrite" if overwrite else "error")
        finally:
            cells.unpersist()
        return {"sheets": sorted(widths), "files": len(widths)}

    return _timed(run)


def load_table(
    target: DataFrame,
    source: DataFrame,
    pk: list[str],
    mode: str = "upsert",
    dedup_order: list | None = None,
) -> StepResult:
    """step=blobtopostgres semantics on DataFrames: append or PK-upsert
    (insert → COPY append, __init__.py:166-168; upsert →
    PGHelperFunction.py MERGE). Returns the merged frame in detail
    (caller writes it to its sink — JDBC via sources/jdbc.py).

    dedup_order defaults to a real total order over the non-PK payload
    (ordering by the PK inside a PK-partitioned window is a no-op)."""

    def run() -> dict[str, Any]:
        if mode == "append":
            out = target.unionByName(source)
        elif mode == "upsert":
            order = dedup_order if dedup_order is not None else default_dedup_order(source.columns, pk)
            out = merge_upsert(target, source, pk, dedup_order=order)
        else:
            raise ValueError(f"mode must be append|upsert, got {mode!r}")
        return {"result": out, "rows": out.count()}

    return _timed(run)


def load_table_jdbc(
    spark: SparkSession,
    source: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    mode: str = "upsert",
    dialect: str = "ansi",
) -> StepResult:
    """step=blobtopostgres against a LIVE JDBC sink — the reference's
    actual loop (adffunction/__init__.py:117-194): append mode is the
    distributed COPY equivalent (:166-168); upsert mode introspects the
    PK from the live server (PGHelperFunction.py:12-22 — and like the
    reference, errors when the target has none, :22-23) then runs the
    staged server-side MERGE (:44-77). `tests/test_pipeline_e2e.py`
    drives this against embedded Derby."""

    def run() -> dict[str, Any]:
        from azure_data_engineering_spark.sources import jdbc as J

        n = source.count()
        if mode == "append":
            J.jdbc_append(source, url, table, properties)
            return {"mode": "append", "table": table, "rows": n}
        if mode != "upsert":
            raise ValueError(f"mode must be append|upsert, got {mode!r}")
        pk = J.introspect_pk_live(url, table, properties, spark)
        if not pk:
            raise ValueError(f"no primary key found for table {table!r}")
        merge_sql = J.jdbc_upsert(spark, source, url, table, pk, properties, dialect=dialect)
        return {"mode": "upsert", "table": table, "pk": pk, "rows": n, "merge_sql": merge_sql}

    return _timed(run)


def maintain(
    listing: DataFrame,
    name_col: str,
    linkedservice: str,
    datafactory: str,
    reference_date,
    daydiff: int = -5,
) -> StepResult:
    """step=cleanup: retention sweep — returns the doomed names
    (HelperFunction.py:112-123 deletes them; deletion is the caller's
    side effect, selection is the engine's job)."""

    def run() -> dict[str, Any]:
        doomed = listing.filter(
            retention_match(F.col(name_col), linkedservice, datafactory, reference_date, daydiff)
        )
        names = [r[0] for r in doomed.select(name_col).collect()]
        return {"to_delete": names, "n": len(names)}

    return _timed(run)


def run_sql(spark: SparkSession, sql: str) -> StepResult:
    """step=callstoredproc: the reference delegates arbitrary relational
    SQL to Postgres (__init__.py:216); our engine owns that surface —
    full Spark SQL over the registered views.

    detail["result"] is the analyzed DataFrame. A query's result is
    lazy: nothing runs until the caller's action, which runs it once,
    and a runtime error raises at that action. Parse and analysis
    errors (bad syntax, unknown tables or columns) come back as
    status="error", and `seconds` covers parse and analysis only.
    Commands (DDL, DML, SET) run inside `spark.sql` itself, so their
    work and errors land in this step."""

    def run() -> dict[str, Any]:
        return {"result": spark.sql(sql)}

    return _timed(run)


def validate(df: DataFrame, suite) -> StepResult:
    """Publish gate: evaluate a data-quality Suite
    (operators/expectations.py) against a frame; status reflects the
    suite outcome, detail carries the per-expectation violation
    counts. The step a load_table caller runs between staging and
    commit — the declarative front door to what the reference leaves
    to Postgres COPY errors (__init__.py:168-176)."""

    def run() -> dict[str, Any]:
        from azure_data_engineering_spark.operators.expectations import check

        row = check(df, suite).collect()[0].asDict()
        passed = bool(row.pop("passed"))
        return {"passed": passed, "violations": row}

    res = _timed(run)
    if res.ok and not res.detail["passed"]:
        return StepResult("error", res.seconds, res.detail)
    return res


def profile_table(df: DataFrame, cols=None, approx: bool = False) -> StepResult:
    """First-contact triage: one-scan column profile
    (operators/profiling.py) as a pipeline step; detail carries the
    per-column stats rows."""

    def run() -> dict[str, Any]:
        from azure_data_engineering_spark.operators.profiling import profile

        rows = [r.asDict() for r in profile(df, cols, approx=approx).collect()]
        return {"columns": rows, "n_columns": len(rows)}

    return _timed(run)


def clean_corpus(
    df: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_tokens: int = 5,
    cap_per_source: int = 100,
) -> StepResult:
    """LLM-corpus cleaning as a pipeline step: quality floor → exact
    dedup (normalized text, keep-first) → per-source frequency cap,
    written to parquet. The same one-plan/two-shuffle composition the
    engine gates as `q_clean_corpus`, surfaced through the reference's
    step/StepResult contract so a scheduler can call it exactly like
    ingest_excel/load_table. Detail books the row counts at every
    stage — the numbers a curation run has to log."""

    def run() -> dict[str, Any]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from azure_data_engineering_spark.functions.text import (
            normalize_text,
            whitespace_token_count,
        )
        from azure_data_engineering_spark.operators.relational import dedup_keep_first
        from azure_data_engineering_spark.operators.sampling import cap_per_group

        # both counts are observed on the one write: no extra scan
        seen_in, seen_out = Observation("rows_in"), Observation("rows_out")
        rows = F.count(F.lit(1)).alias("n")
        filtered = df.observe(seen_in, rows).filter(
            whitespace_token_count(F.col(text_col)) >= min_tokens
        )
        # keep-first survivor per normalized text: retains ALL columns
        # (exact_dedup's aggregate form keeps only id + count)
        deduped = dedup_keep_first(
            filtered.withColumn("__norm", normalize_text(F.col(text_col))),
            ["__norm"],
            [id_col],
        ).drop("__norm")
        capped = cap_per_group(deduped, [group_col], id_col, cap_per_source)
        capped.observe(seen_out, rows).write.mode("overwrite").parquet(out_path)
        return {"rows_in": seen_in.get["n"], "rows_out": seen_out.get["n"], "path": out_path}

    return _timed(run)


def monitor_corpus(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    value_col: str | None = None,
    drift_warn: float = 0.1,
) -> StepResult:
    """Corpus health monitoring as a pipeline step: per-group token-
    distribution drift (KL + JS vs the whole corpus), categorical
    association between group and language, and — when a numeric
    value_col is given — robust MAD outlier counts per group. The
    recurring per-shard/per-day check a 100 TB curation pipeline
    schedules right after ingestion; `status` flips to 'warn' when
    any group's JS divergence exceeds drift_warn (ln 2 is the
    theoretical max). Detail carries the full per-group report rows,
    bounded by the number of groups."""

    def run() -> dict[str, Any]:
        from azure_data_engineering_spark.operators.stats import (
            mad_outliers,
            token_distribution_drift,
        )

        drift = token_distribution_drift(df, text_col, group_col)
        rows = [r.asDict() for r in drift.collect()]
        worst = max((r["js"] for r in rows), default=0.0)
        out: dict[str, Any] = {
            "groups": rows,
            "n_groups": len(rows),
            "worst_js": worst,
            "drift_warn_threshold": drift_warn,
        }
        if value_col is not None:
            flags = (
                mad_outliers(df, group_col, value_col)
                .groupBy(group_col)
                .agg(
                    F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
            )
            out["outliers"] = [r.asDict() for r in flags.collect()]
        return out

    res = _timed(run)
    # mirror validate()'s convention: a completed run whose drift
    # breaches the threshold surfaces as a non-success status
    if res.ok and res.detail.get("worst_js", 0.0) > drift_warn:
        return StepResult("warn", res.seconds, res.detail)
    return res
