from azure_data_engineering_spark.functions.sanitize import sanitize_cell, sanitize_filename
from azure_data_engineering_spark.functions.datetime_utils import retention_match, archive_folder
from azure_data_engineering_spark.functions.text import (
    whitespace_token_count,
    bpe_ish_token_count,
    normalize_text,
    doc_fingerprint,
    punct_ratio,
    stopword_ratio,
    lang_scores,
)
from azure_data_engineering_spark.functions.vectors import dot, l2_norm, cosine_similarity

__all__ = [
    "sanitize_cell",
    "sanitize_filename",
    "retention_match",
    "archive_folder",
    "whitespace_token_count",
    "bpe_ish_token_count",
    "normalize_text",
    "doc_fingerprint",
    "punct_ratio",
    "stopword_ratio",
    "lang_scores",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
