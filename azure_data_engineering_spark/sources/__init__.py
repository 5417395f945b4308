from azure_data_engineering_spark.sources.csv_pipe import read_pipe_csv, write_pipe_csv
from azure_data_engineering_spark.sources.listing import list_files
from azure_data_engineering_spark.sources.excel import ingest_excel_distributed
from azure_data_engineering_spark.sources.multimodal import with_binary_payload, decode_metadata
from azure_data_engineering_spark.sources.snapshot import (
    snapshot_compact,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
    vacuum,
)

__all__ = [
    "read_pipe_csv",
    "write_pipe_csv",
    "list_files",
    "ingest_excel_distributed",
    "with_binary_payload",
    "decode_metadata",
    "snapshot_write",
    "snapshot_read",
    "snapshot_merge",
    "snapshot_compact",
    "vacuum",
]
