"""Pipeline facade tests (§2C surface: the reference's four HTTP
steps as a library)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from azure_data_engineering_spark import pipeline as P
from azure_data_engineering_spark.catalog import register_views
from azure_data_engineering_spark.sources.csv_pipe import read_pipe_csv
from azure_data_engineering_spark.sources.excel import write_minimal_xlsx

FAKE_BOOK = {"S1": [["a,b", "x"], ["c", "y"]], "S2": [["1"]]}


def _workbook(tmp_path, name, book):
    """`book` written as a real .xlsx under tmp_path/in; its path."""
    (tmp_path / "in").mkdir(exist_ok=True)
    path = str(tmp_path / "in" / name)
    write_minimal_xlsx(path, book)
    return path


class TestIngestExcel:
    def test_writes_one_csv_dir_per_sheet(self, spark, tmp_path):
        src = _workbook(tmp_path, "My Wb.xlsx", FAKE_BOOK)
        res = P.ingest_excel(spark, src, str(tmp_path / "out"), overwrite=True)
        assert res.ok and res.detail["files"] == 2
        rows = sorted(tuple(r) for r in read_pipe_csv(spark, str(tmp_path / "out" / "MyWb_S1")).collect())
        # sanitize on by default: comma deleted
        assert rows == [("ab", "x"), ("c", "y")]

    def test_sheet_selection(self, spark, tmp_path):
        src = _workbook(tmp_path, "wb.xlsx", FAKE_BOOK)
        res = P.ingest_excel(spark, src, str(tmp_path / "out"), sheet_list="S2", overwrite=True)
        assert res.detail["sheets"] == ["wb_S2"]

    def test_error_contract(self, spark, tmp_path):
        missing = str(tmp_path / "missing.xlsx")
        res = P.ingest_excel(spark, missing, str(tmp_path / "out"))
        # mirror of the reference's "Error -..." string contract
        # (adffunction/__init__.py:110-113): status, not an exception
        assert not res.ok and missing in res.detail["error"]

    def test_empty_sheet_lands_as_empty_folder(self, spark, tmp_path):
        src = _workbook(tmp_path, "wb.xlsx", {"S1": [["a"]], "Empty": [], "S2": [["b", "c"]]})
        res = P.ingest_excel(spark, src, str(tmp_path / "out"))
        assert res.ok and res.detail == {"sheets": ["wb_Empty", "wb_S1", "wb_S2"], "files": 3}
        empty = str(tmp_path / "out" / "wb_Empty")
        assert os.path.isdir(empty) and read_pipe_csv(spark, empty, schema=StructType.fromDDL("c0 string")).count() == 0
        assert [tuple(r) for r in read_pipe_csv(spark, str(tmp_path / "out" / "wb_S2")).collect()] == [("b", "c")]

    def test_folder_of_workbooks(self, spark, tmp_path):
        """A folder is the reference's ExcelToCsv loop: every `*.xls*`
        workbook in it, other files skipped (__init__.py:91-104)."""
        _workbook(tmp_path, "a.xlsx", {"S": [["1"], ["2"]]})
        _workbook(tmp_path, "b b.xlsx", {"S": [["3"]], "T": [["4", "5"]]})
        (tmp_path / "in" / "notes.txt").write_text("not a workbook")
        res = P.ingest_excel(spark, str(tmp_path / "in"), str(tmp_path / "out"))
        assert res.ok and res.detail == {"sheets": ["a_S", "bb_S", "bb_T"], "files": 3}
        assert sorted(os.listdir(tmp_path / "out")) == ["a_S", "bb_S", "bb_T"]
        got = {
            name: sorted(tuple(r) for r in read_pipe_csv(spark, str(tmp_path / "out" / name)).collect())
            for name in res.detail["sheets"]
        }
        assert got == {"a_S": [("1",), ("2",)], "bb_S": [("3",)], "bb_T": [("4", "5")]}


class TestLoadTable:
    def test_append_and_upsert(self, spark):
        t = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        s = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
        assert P.load_table(t, s, ["k"], mode="append").detail["rows"] == 4
        up = P.load_table(t, s, ["k"], mode="upsert")
        assert up.detail["rows"] == 3
        assert {r["k"]: r["v"] for r in up.detail["result"].collect()} == {1: "a", 2: "B", 3: "c"}


class TestMaintain:
    def test_retention_selection(self, spark):
        listing = spark.createDataFrame(
            [
                ("adffact-ls-20240101120000",),
                ("adffact-ls-20300101120000",),  # future: outside window
                ("other-20240101120000",),  # foreign: silently skipped
            ],
            "name string",
        )
        res = P.maintain(
            listing, "name", "-ls-", "fact", F.lit("2024-03-01").cast("date"), daydiff=-5
        )
        assert res.ok and res.detail["to_delete"] == ["adffact-ls-20240101120000"]


class TestRunSql:
    def test_full_sql_surface(self, spark, sf_dir):
        register_views(spark, sf_dir)
        res = P.run_sql(spark, "SELECT count(*) AS n FROM orders")
        assert res.ok and res.detail["result"].collect()[0]["n"] == 1500

    def test_sql_error_contract(self, spark):
        res = P.run_sql(spark, "SELECT FROM nonsense !!")
        assert not res.ok and "error" in res.detail

    def test_select_is_lazy(self, spark, sf_dir):
        """run_sql parses and analyzes a SELECT without running it: no
        Spark job starts until the caller's action, which runs it once."""
        import uuid

        register_views(spark, sf_dir)
        sc = spark.sparkContext
        group = f"run_sql-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "run_sql laziness")
        try:
            res = P.run_sql(
                spark, "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
            )
            launched = list(sc.statusTracker().getJobIdsForGroup(group))
            rows = res.detail["result"].collect()
        finally:
            sc.setJobGroup(None, None)
        assert res.ok and launched == []
        assert set(res.detail) == {"result"}
        assert sum(r["n"] for r in rows) == 1500


class TestValidateAndProfile:
    def test_validate_green_and_red(self, spark, sf_dir):
        from azure_data_engineering_spark.catalog import load_table as cat_load
        from azure_data_engineering_spark.operators.expectations import Suite
        from azure_data_engineering_spark.pipeline import validate

        o = cat_load(spark, sf_dir, "orders")
        good = validate(o, Suite().unique("o_orderkey").not_null("o_custkey"))
        assert good.ok and good.detail["passed"] is True
        bad = validate(o, Suite().in_range("o_totalprice", 0, 1))
        assert not bad.ok and bad.detail["passed"] is False
        assert bad.detail["violations"]["o_totalprice_in_range_violations"] > 0

    def test_profile_step(self, spark, sf_dir):
        from azure_data_engineering_spark.catalog import load_table as cat_load
        from azure_data_engineering_spark.pipeline import profile_table

        o = cat_load(spark, sf_dir, "orders")
        r = profile_table(o, ["o_orderkey", "o_orderstatus"])
        assert r.ok and r.detail["n_columns"] == 2
        stats = {c["column"]: c for c in r.detail["columns"]}
        assert stats["o_orderkey"]["n_null"] == 0
        assert stats["o_orderstatus"]["n_distinct"] == 3


class TestCleanCorpusStep:
    def test_filters_dedups_caps_and_books_counts(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from azure_data_engineering_spark.catalog import load_table
        from azure_data_engineering_spark.pipeline import clean_corpus

        d = load_table(spark, sf_dir, "documents")
        # plant exact duplicates so the dedup stage provably drops rows
        dupes = d.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000_000
        )
        corpus = d.unionByName(dupes)
        out = str(tmp_path / "clean")
        res = clean_corpus(corpus, out, min_tokens=3, cap_per_source=4)
        assert res.ok, res.detail
        assert res.detail["rows_in"] == corpus.count()
        assert 0 < res.detail["rows_out"] < res.detail["rows_in"]
        back = spark.read.parquet(out)
        # planted copies must be gone (keep-first: original id survives)
        assert back.filter(F.col("doc_id") >= 1_000_000_000).count() == 0
        # cap respected per source
        per_src = back.groupBy("source").count().agg(F.max("count")).collect()[0][0]
        assert per_src <= 4
        # full column set retained through the step
        assert set(back.columns) == set(corpus.columns)

    def test_error_contract_on_bad_input(self, spark, tmp_path):
        from azure_data_engineering_spark.pipeline import clean_corpus

        df = spark.createDataFrame([(1, "hello world")], "doc_id int, text string")
        res = clean_corpus(df, str(tmp_path / "x"), group_col="missing_col")
        assert res.status == "error"
        assert "error" in res.detail


class TestMonitorCorpus:
    def test_healthy_corpus_reports_success(self, spark, sf_dir):
        from azure_data_engineering_spark.pipeline import monitor_corpus

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        res = monitor_corpus(d, drift_warn=0.69)  # ~ln2: nothing trips
        assert res.status == "success"
        assert res.detail["n_groups"] == d.select("source").distinct().count()
        assert 0.0 <= res.detail["worst_js"] <= 0.6931471805599454

    def test_drifted_group_flips_to_warn_and_outliers_counted(self, spark):
        from azure_data_engineering_spark.pipeline import monitor_corpus

        # varied steady values: all-identical would zero the MAD and
        # (correctly) suppress flagging
        rows = [(f"d{i}", "steady", "alpha beta gamma", (i % 7) / 7.0) for i in range(50)]
        rows += [("x", "drifted", "zebra quark xylophone", 1.0)] * 5
        rows += [("spike", "steady", "alpha beta gamma", 500.0)]
        df = spark.createDataFrame(rows, "doc_id string, source string, text string, v double")
        res = monitor_corpus(df, value_col="v", drift_warn=0.05)
        assert res.status == "warn"
        assert res.detail["worst_js"] > 0.05
        out = {r["source"]: r["n_outliers"] for r in res.detail["outliers"]}
        assert out["steady"] == 1 and out["drifted"] == 0
