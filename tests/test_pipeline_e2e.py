"""The reference's full story, end-to-end against live sinks: Excel
workbook -> pipe-CSV blobs (step=exceltocsv) -> typed read -> live
Derby append + PK-introspected MERGE upsert (step=blobtopostgres) ->
data-quality gate (validate) -> one-scan profile -> retention sweep
(step=cleanup). Each step returns the reference's result contract
(status/seconds/counts, cf. adffunction/__init__.py:106-113) and the
test asserts those fields, not just the data."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from azure_data_engineering_spark import pipeline as P
from azure_data_engineering_spark.sources import jdbc as J
from azure_data_engineering_spark.sources.csv_pipe import read_pipe_csv
from azure_data_engineering_spark.sources.excel import write_minimal_xlsx

URL = "jdbc:derby:memory:e2e;create=true"
PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

BASE_BOOK = {"Orders": [["1", "alpha", "10.5"], ["2", "beta", "20.5"], ["3", "gamma", "30.5"]]}
DELTA_BOOK = {"Orders": [["2", "BETA", "220.5"], ["4", "delta", "40.5"]]}

CSV_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("bal", DoubleType()),
    ]
)


def test_reference_story_end_to_end(spark, tmp_path):
    # -- step=exceltocsv: two workbooks land as pipe-CSV folders
    (tmp_path / "blobs").mkdir()
    write_minimal_xlsx(str(tmp_path / "blobs" / "base.xlsx"), BASE_BOOK)
    write_minimal_xlsx(str(tmp_path / "blobs" / "delta.xlsx"), DELTA_BOOK)
    ing1 = P.ingest_excel(spark, str(tmp_path / "blobs" / "base.xlsx"), str(tmp_path / "base"), overwrite=True)
    ing2 = P.ingest_excel(spark, str(tmp_path / "blobs" / "delta.xlsx"), str(tmp_path / "delta"), overwrite=True)
    assert ing1.ok and ing1.detail == {"sheets": ["base_Orders"], "files": 1}
    assert ing2.ok and ing2.detail["files"] == 1
    assert ing1.seconds >= 0

    base = read_pipe_csv(spark, str(tmp_path / "base" / "base_Orders"), schema=CSV_SCHEMA)
    delta = read_pipe_csv(spark, str(tmp_path / "delta" / "delta_Orders"), schema=CSV_SCHEMA)

    # -- step=blobtopostgres (live Derby): append the base load...
    J.drop_table_if_exists(URL, "orders_e2e", PROPS, spark)
    J._execute_statement(
        URL,
        'CREATE TABLE orders_e2e ("id" BIGINT NOT NULL, "name" VARCHAR(64), '
        '"bal" DOUBLE, PRIMARY KEY ("id"))',
        PROPS,
        spark,
    )
    app = P.load_table_jdbc(spark, base, URL, "orders_e2e", PROPS, mode="append")
    assert app.ok and app.detail == {"mode": "append", "table": "orders_e2e", "rows": 3}

    # ...then MERGE-upsert the delta with the PK taken from the server
    ups = P.load_table_jdbc(spark, delta, URL, "orders_e2e", PROPS, mode="upsert")
    assert ups.ok and ups.detail["pk"] == ["id"] and ups.detail["rows"] == 2
    assert ups.detail["merge_sql"].startswith("MERGE INTO orders_e2e")

    loaded = spark.read.jdbc(URL, "orders_e2e", properties=PROPS)
    assert sorted((r.id, r.name, r.bal) for r in loaded.collect()) == [
        (1, "alpha", 10.5),
        (2, "BETA", 220.5),
        (3, "gamma", 30.5),
        (4, "delta", 40.5),
    ]

    # -- publish gate: the quality suite the reference leaves to COPY errors
    from azure_data_engineering_spark.operators.expectations import Suite

    gate = P.validate(loaded, Suite().unique("id").not_null("name").in_range("bal", 0, 1000))
    assert gate.ok and gate.detail["passed"] is True

    # -- triage profile of what was published
    prof = P.profile_table(loaded)
    assert prof.ok and prof.detail["n_columns"] == 3

    # -- step=cleanup: retention sweep over the landing zone listing
    listing = spark.createDataFrame(
        [("adffact-ls-20240101120000",), ("adffact-ls-20240301100000",)], ["name"]
    )
    sweep = P.maintain(
        listing, "name", "-ls-", "fact", F.lit("2024-03-01").cast("date"), daydiff=-5
    )
    assert sweep.ok and sweep.detail["to_delete"] == ["adffact-ls-20240101120000"]


def test_upsert_without_pk_is_an_error_status(spark):
    """Reference contract: upsert against a PK-less target errors
    (PGHelperFunction.py:22-23) — surfaced as an error StepResult, not
    an exception."""
    J.drop_table_if_exists(URL, "nopk_e2e", PROPS, spark)
    J._execute_statement(URL, 'CREATE TABLE nopk_e2e ("x" BIGINT)', PROPS, spark)
    src = spark.createDataFrame([(1,)], "x long")
    res = P.load_table_jdbc(spark, src, URL, "nopk_e2e", PROPS, mode="upsert")
    assert not res.ok and "no primary key" in res.detail["error"]
