"""Archive-partitioning tests: date-partitioned archive writes and
partition pruning on read."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from azure_data_engineering_spark.catalog import load_table
from azure_data_engineering_spark.sources.archive import archive_prune, archive_write


class TestArchive:
    def test_partitioned_layout_and_prune(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "archive")
        d = load_table(spark, sf_dir, "region")
        archive_write(d, path, archive_ts=F.lit("2024-03-01 12:34:00").cast("timestamp"))
        archive_write(d, path, archive_ts=F.lit("2024-03-02 09:00:00").cast("timestamp"))
        # reference naming embedded as partition dirs (HelperFunction.py:52-55)
        assert os.path.isdir(os.path.join(path, "archive_date=202403011234"))
        pruned = archive_prune(spark, path, "202403020000", "202403029999")
        assert pruned.count() == d.count()
        # pruning happens at planning time: only one partition scanned
        assert "202403011234" not in pruned.inputFiles()[0]
