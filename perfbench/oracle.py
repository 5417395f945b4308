"""Independent models the benchmark scores the engine against.

Nothing here calls the engine: the sanitizer, quality floor, dedup
order and merge are re-expressed in plain Python or DuckDB from their
documented semantics (text normalisation and shingling live in
``gen``, which plants ground truth with them), and the snapshot table
is read straight from its on-disk manifest.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import numpy as np
import pyarrow as pa

from perfbench.gen import ARROW_SCHEMA, COLUMNS, PK, Batch, jaccard, normalize, shingle_set


def sanitize(cell: str) -> str:
    """The six-step destructive cell chain: drop ',' and "'", newline and
    backslash to space, '/' to '-', drop non-ASCII."""
    c = cell.replace(",", "").replace("'", "").replace("\n", " ").replace("\\", " ").replace("/", "-")
    return "".join(ch for ch in c if ord(ch) < 128)


def sanitized(batch: Batch) -> list[list[str]]:
    """The batch's cells after the sanitizer, as columns."""
    return [[sanitize(c) for c in col] for col in zip(*batch.rows)]


def typed_batch(cols: list[list[str]]) -> pa.Table:
    """The typed table the pipe-CSV stage should produce from the
    sanitized columns: each parsed by its column type."""
    arrays = [pa.array(c, pa.string()).cast(ARROW_SCHEMA.field(n).type) for c, n in zip(cols, COLUMNS)]
    return pa.Table.from_arrays(arrays, schema=ARROW_SCHEMA)


def csv_text_bytes(cols: list[list[str]]) -> int:
    """Size of the sanitized batch as headerless pipe-CSV text — the
    denominator of write amplification: the cells' bytes, plus one
    separator between cells and one newline per row."""
    return sum(len(c.encode()) for col in cols for c in col) + len(cols[0]) * len(cols)


def manifest_files(table: str) -> list[str]:
    """Absolute data-file paths of the table's current snapshot, read
    from the pointer file and manifest on disk."""
    with open(os.path.join(table, "_current")) as f:
        version = int(f.read().strip())
    with open(os.path.join(table, "_manifests", f"v{version}.json")) as f:
        return [os.path.join(table, p) for p in json.load(f)["files"]]


def duck(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def _parquet(files: list[str]) -> str:
    return "read_parquet([" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


class UpsertModel:
    """DuckDB replay of the upsert stream: per batch, keep one row per PK
    under the engine's documented order (descending over the non-PK
    columns in table order), then delete-matched + insert."""

    def __init__(self, con: duckdb.DuckDBPyConnection, base_parquet: str):
        self.con = con
        con.execute(f"CREATE OR REPLACE TABLE model AS SELECT * FROM read_parquet('{base_parquet}/*.parquet')")

    def apply(self, cols: list[list[str]]) -> None:
        """Merge one batch, given as its sanitized columns."""
        self.con.register("tbl", typed_batch(cols))
        order = ", ".join(f"{c} DESC" for c in COLUMNS if c not in PK)
        on = " AND ".join(f"model.{c} = s.{c}" for c in PK)
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE s AS SELECT * EXCLUDE (rn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY {', '.join(PK)} ORDER BY {order}) AS rn FROM tbl"
            ") WHERE rn = 1"
        )
        self.con.unregister("tbl")
        self.con.execute(f"DELETE FROM model USING s WHERE {on}")
        self.con.execute("INSERT INTO model SELECT * FROM s")

    def _fingerprint(self, source: str) -> tuple:
        cols = ", ".join(COLUMNS)
        return self.con.execute(f"SELECT count(*), sum(hash({cols})) FROM {source}").fetchone()

    def matches(self, files: list[str]) -> bool:
        """Order-insensitive multiset equality by (row count, sum of row
        hashes) — cheap enough to run after every batch."""
        return self._fingerprint("model") == self._fingerprint(_parquet(files))

    def diff(self, files: list[str]) -> int:
        """Exact order-insensitive comparison: rows on either side that
        the other lacks."""
        src = _parquet(files)
        a = self.con.execute(f"SELECT count(*) FROM (SELECT * FROM model EXCEPT ALL SELECT * FROM {src})").fetchone()[0]
        b = self.con.execute(f"SELECT count(*) FROM (SELECT * FROM {src} EXCEPT ALL SELECT * FROM model)").fetchone()[0]
        return a + b


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive result equality; floats compare within ``rel``."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((1, round(v, 3)) if isinstance(v, float) else (0, str(v)) for v in row)

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


class SqlModel:
    """DuckDB over the same parquet files the engine's view reads."""

    def __init__(self, con: duckdb.DuckDBPyConnection, files: list[str]):
        self.con = con
        con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM {_parquet(files)}")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


class AnnModel:
    """Exact cosine top-k by numpy brute force."""

    def __init__(self, vecs: np.ndarray):
        self.vecs = vecs
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def score(self, query: list[float], got: list[tuple[int, float]], k: int = 10) -> tuple[float, bool]:
        """(recall@k, well_formed): well-formed means k distinct existing
        ids, each reported cosine equal to the exact cosine to 1e-6."""
        q = np.asarray(query) / np.linalg.norm(query)
        cos = self.unit @ q
        truth = set((np.lexsort((np.arange(len(cos)), -cos))[:k] + 1).tolist())
        ids = [i for i, _ in got]
        ok = len(ids) == k and len(set(ids)) == k and all(1 <= i <= len(cos) for i in ids)
        ok = ok and all(abs(cos[i - 1] - c) <= 1e-6 for i, c in got)
        return len(truth & set(ids)) / k, ok


class CorpusModel:
    """Expected outcome of curating one shard."""

    def __init__(self, docs: list[tuple[int, str, str]], min_tokens: int):
        by_norm: dict[str, int] = {}
        for doc_id, _, text in docs:
            if len(text.split()) < min_tokens:
                continue
            n = normalize(text)
            if n not in by_norm or doc_id < by_norm[n]:
                by_norm[n] = doc_id
        self.clean_ids = set(by_norm.values())
        self.text = {d: t for d, _, t in docs if d in self.clean_ids}

    def jaccard(self, a: int, b: int) -> float:
        return jaccard(shingle_set(self.text[a]), shingle_set(self.text[b]))


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: node -> min node id of its component (edge nodes only)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
