"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, index)``: the same seed
gives byte-identical inputs, and a run that completes more ops simply
asks for more indices. Each generator records what it planted (update
share, duplicate keys, sanitizer-hostile cells, duplicate and
near-duplicate pairs, query mix) so the checks in ``oracle.py`` can
score the engine against ground truth instead of against itself.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import re
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------
# lineitem-shaped table shared by etl_upsert and lookup_serve

LINEITEM = [
    ("l_orderkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "date"),
    ("l_commitdate", "date"),
    ("l_receiptdate", "date"),
    ("l_shipinstruct", "string"),
    ("l_shipmode", "string"),
    ("l_comment", "string"),
]
COLUMNS = [c for c, _ in LINEITEM]
PK = ["l_orderkey", "l_linenumber"]
LINES_PER_ORDER = 4
EPOCH = dt.date(1992, 1, 1)
DATE_SPAN_DAYS = 2500

_NON_ALNUM = re.compile(r"[^a-z0-9]+")
_ARROW = {"bigint": pa.int64(), "int": pa.int32(), "double": pa.float64(), "string": pa.string(), "date": pa.date32()}
ARROW_SCHEMA = pa.schema([(c, _ARROW[t]) for c, t in LINEITEM])

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_INSTRUCT = np.array(["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"])
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_WORDS = np.array(
    "carefully final deposits sleep quickly regular requests among ironic "
    "packages haggle blithely express accounts boost furiously pending "
    "theodolites nag slyly even pinto beans wake bold instructions".split()
)
# Sanitizer-hostile fragments: each exercises one step of the six-step
# cell chain (comma, apostrophe, newline, backslash, slash, non-ASCII)
# plus a double quote and a pipe, which the pipe-CSV writer must quote.
_HOSTILE = np.array(
    ["a,b", "o'neil", "line\nbreak", "back\\slash", "n/a", "café", "naïve", "über",
     'say "hi"', "x|y", "東京ok", "1/2,3"]
)
_HOSTILE_CHAR = re.compile(r"[,'\n\\/|\"]|[^\x00-\x7f]")


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, DATE_SPAN_DAYS, n)


def lineitem_columns(rng: np.random.Generator, orderkeys: np.ndarray, linenumbers: np.ndarray, hostile: float) -> dict:
    """Column arrays for the given keys. ``hostile`` is the share of
    rows whose two free-text cells carry sanitizer-hostile fragments;
    every text cell starts and ends with a plain ASCII word, so
    sanitizing never leaves edge whitespace."""
    n = len(orderkeys)
    ship = _days(rng, n)
    words = rng.choice(_WORDS, size=(n, 3)).astype(object)
    bad = rng.random(n) < hostile
    frag = rng.choice(_HOSTILE, size=(n, 2)).astype(object)
    comment = words[:, 0] + " " + words[:, 1] + " " + words[:, 2]
    w, f = words[bad], frag[bad]
    comment[bad] = w[:, 0] + " " + f[:, 0] + " " + w[:, 1] + " " + f[:, 1] + " " + w[:, 2]
    instruct = rng.choice(_INSTRUCT, n).astype(object)
    instruct[bad] = [f"{s.split()[0]} {f} end" for s, f in zip(instruct[bad], frag[bad, 0])]
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_linenumber": linenumbers.astype(np.int32),
        "l_partkey": rng.integers(1, 200_000, n),
        "l_suppkey": rng.integers(1, 10_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(_FLAGS, n),
        "l_linestatus": rng.choice(_STATUS, n),
        "l_shipdate": ship,
        "l_commitdate": ship + rng.integers(-30, 31, n),
        "l_receiptdate": ship + rng.integers(1, 31, n),
        "l_shipinstruct": instruct,
        "l_shipmode": rng.choice(_MODES, n),
        "l_comment": comment,
    }


def _date_array(days: np.ndarray) -> pa.Array:
    return pa.array((days + (EPOCH - dt.date(1970, 1, 1)).days).astype(np.int32), type=pa.date32())


def to_arrow(cols: dict) -> pa.Table:
    arrays = []
    for name, typ in LINEITEM:
        v = cols[name]
        arrays.append(_date_array(v) if typ == "date" else pa.array(v, type=_ARROW[typ]))
    return pa.Table.from_arrays(arrays, schema=ARROW_SCHEMA)


def base_table(seed: int, orders: int, path: str, files: int = 4) -> int:
    """Write the clean base table (``orders`` x LINES_PER_ORDER rows) as a
    directory of ``files`` parquet files, the layout a distributed load
    leaves; returns the row count."""
    rng = np.random.default_rng([seed, 0xBA5E])
    ok = np.repeat(np.arange(1, orders + 1), LINES_PER_ORDER)
    ln = np.tile(np.arange(1, LINES_PER_ORDER + 1), orders)
    tbl = to_arrow(lineitem_columns(rng, ok, ln, hostile=0.0))
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for f in range(files):
        pq.write_table(tbl.slice(f * step, step), os.path.join(path, f"part-{f:02d}.parquet"))
    return tbl.num_rows


def _cells(typ: str, v: np.ndarray) -> list[str]:
    """A column as the strings a workbook cell holds."""
    if typ == "date":
        return (np.datetime64(EPOCH, "D") + v.astype("timedelta64[D]")).astype(str).tolist()
    if typ == "double":
        return np.char.mod("%.2f", v).tolist()
    return v.astype(str).tolist()


@dataclass
class Batch:
    """One ETL source batch: rows as the strings a workbook holds."""

    index: int
    rows: list[tuple[str, ...]]
    planted: dict = field(default_factory=dict)


def etl_batch(seed: int, index: int, base_orders: int, rows: int, update_share: float = 0.30, dup_share: float = 0.02) -> Batch:
    """Batch ``index`` of the upsert stream. ``update_share`` of the rows
    update keys that exist before the batch (the base table plus every
    earlier batch's inserts), ``dup_share`` repeat a key already in the
    batch with a different payload, the rest insert whole new orders.
    The key universe after batch i is known without replaying batches
    0..i-1, so any batch is generated on its own."""
    rng = np.random.default_rng([seed, 0xE71, index])
    n_dup = int(round(rows * dup_share))
    n_upd = int(round(rows * update_share))
    new_orders = (rows - n_dup - n_upd) // LINES_PER_ORDER
    n_new = new_orders * LINES_PER_ORDER
    known_orders = base_orders + index * new_orders
    upd_ok = rng.choice(known_orders, size=n_upd, replace=False) + 1
    upd_ln = rng.integers(1, LINES_PER_ORDER + 1, n_upd)
    new_ok = np.repeat(np.arange(known_orders + 1, known_orders + new_orders + 1), LINES_PER_ORDER)
    new_ln = np.tile(np.arange(1, LINES_PER_ORDER + 1), new_orders)
    ok = np.concatenate([upd_ok, new_ok])
    ln = np.concatenate([upd_ln, new_ln])
    pick = rng.choice(len(ok), size=n_dup, replace=False)
    ok = np.concatenate([ok, ok[pick]])
    ln = np.concatenate([ln, ln[pick]])
    order = rng.permutation(len(ok))
    ok, ln = ok[order], ln[order]
    cols = lineitem_columns(rng, ok, ln, hostile=0.25)
    out = list(zip(*(_cells(t, cols[c]) for c, t in LINEITEM)))
    hostile_cells = sum(bool(_HOSTILE_CHAR.search(cell)) for r in out for cell in r)
    return Batch(
        index,
        out,
        {
            "rows": len(out),
            "updates": n_upd,
            "inserts": n_new,
            "dup_key_rows": n_dup,
            "distinct_keys": n_upd + n_new,
            "hostile_cells": hostile_cells,
            "update_share": n_upd / len(out),
            "dup_share": n_dup / len(out),
        },
    )


def write_workbooks(batch: Batch, out_dir: str, workbooks: int = 4, sheets: int = 2) -> list[str]:
    """Spread a batch over ``workbooks`` .xlsx files of ``sheets`` sheets
    each (header row first, as real exports have) via the engine's own
    fixture writer, then pin every zip entry's timestamp so the files
    are byte-identical for a seed."""
    from azure_data_engineering_spark.sources.excel import write_minimal_xlsx

    os.makedirs(out_dir, exist_ok=True)
    parts = np.array_split(np.arange(len(batch.rows)), workbooks * sheets)
    paths = []
    for w in range(workbooks):
        book = {
            f"Sheet{s + 1}": [COLUMNS] + [batch.rows[i] for i in parts[w * sheets + s]]
            for s in range(sheets)
        }
        path = os.path.join(out_dir, f"export{batch.index:05d}w{w}.xlsx")
        write_minimal_xlsx(path, book)
        _pin_zip_times(path)
        paths.append(path)
    return paths


def _pin_zip_times(path: str) -> None:
    with zipfile.ZipFile(path) as zf:
        entries = [(info.filename, zf.read(info)) for info in zf.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries:
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data, zipfile.ZIP_DEFLATED)


# ------------------------------------------------------------------
# corpus_curation


@functools.lru_cache(maxsize=1)
def vocabulary(size: int = 20_000) -> np.ndarray:
    """Fixed pseudo-word vocabulary ([a-z] only, so normalisation never
    splits a word), ranked for a Zipf draw."""
    rng = np.random.default_rng(0x70CA)
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words: set[str] = set()
    out = []
    while len(out) < size:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(k))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def normalize(text: str) -> str:
    """Lowercase, non-alphanumeric runs to one space, trim."""
    return _NON_ALNUM.sub(" ", text.lower()).strip()


def shingle_set(text: str, k: int = 3) -> set[str]:
    """Word k-shingles of the normalised text (model of the engine's
    definition: normalise, split on single spaces, distinct)."""
    words = normalize(text).split(" ")
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]  # (doc_id, source, text)
    planted: dict


def corpus_shard(
    seed: int,
    index: int,
    docs: int,
    min_tokens: int = 20,
    low_share: float = 0.15,
    exact_share: float = 0.10,
    near_share: float = 0.10,
    zipf_a: float = 1.1,
) -> Corpus:
    """Shard ``index`` of the curation corpus. ``low_share`` of the docs
    fall below the ``min_tokens`` quality floor, ``exact_share`` are
    case/punctuation variants of another doc (identical after
    normalisation), ``near_share`` are word-substitution variants whose
    word-3-shingle Jaccard to their origin lies in [0.6, 0.9]. The three
    planted groups and their origins are disjoint; every planted pair
    is recorded with its exact Jaccard."""
    rng = np.random.default_rng([seed, 0xC0, index])
    vocab = vocabulary()
    cdf = np.cumsum(np.arange(1, len(vocab) + 1, dtype=np.float64) ** -zipf_a)
    cdf /= cdf[-1]
    n_low = int(docs * low_share)
    n_exact = int(docs * exact_share)
    n_near = int(docs * near_share)
    n_base = docs - n_low - n_exact - n_near

    def draw(n: int) -> list[str]:
        return list(vocab[np.searchsorted(cdf, rng.random(n), side="right")])

    base = [draw(int(rng.integers(40, 121))) for _ in range(n_base)]
    origins = rng.choice(n_base, size=n_exact + n_near, replace=False)
    texts: list[str] = [" ".join(w) for w in base]
    exact_pairs, near_pairs = [], []
    for j in range(n_exact):
        src = base[origins[j]]
        words = [w.capitalize() if rng.random() < 0.2 else w for w in src]
        punct = rng.choice([",", ".", "!", ";", " -", ":"], size=len(words))
        keep = rng.random(len(words)) < 0.15
        texts.append(" ".join(w + (q if k else "") for w, q, k in zip(words, punct, keep)))
        exact_pairs.append((int(origins[j]), len(texts) - 1))
    for j in range(n_near):
        o = int(origins[n_exact + j])
        src = base[o]
        s0 = shingle_set(" ".join(src))
        while True:
            target = rng.uniform(0.6, 0.9)
            words = list(src)
            pos = rng.permutation(len(words))
            jac = 1.0
            for q in pos:
                words[q] = vocab[rng.integers(len(vocab))]
                jac = jaccard(s0, shingle_set(" ".join(words)))
                if jac <= target:
                    break
            if 0.6 <= jac <= 0.9:
                break
        texts.append(" ".join(words))
        near_pairs.append((o, len(texts) - 1, jac))
    for j in range(n_low):
        k = int(rng.integers(1, min_tokens - 1))
        texts.append(" ".join(draw(k) + [f"short{index}x{j}"]))
    # shuffle ids so a copy is as likely to carry the smaller id as its origin
    ids = rng.permutation(len(texts)) + index * 10 * docs + 1
    sources = [f"site{int(s)}" for s in rng.integers(0, 8, len(texts))]
    out = [(int(ids[i]), sources[i], texts[i]) for i in range(len(texts))]
    return Corpus(
        out,
        {
            "docs": len(out),
            "min_tokens": min_tokens,
            "below_floor": n_low,
            "exact_dups": n_exact,
            "near_dups": n_near,
            "exact_pairs": [(int(ids[a]), int(ids[b])) for a, b in exact_pairs],
            "near_pairs": [(int(ids[a]), int(ids[b]), float(j)) for a, b, j in near_pairs],
        },
    )


def write_corpus(corpus: Corpus, path: str) -> None:
    ids, srcs, texts = zip(*corpus.docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "source": pa.array(srcs), "text": pa.array(texts)}),
        path,
    )


# ------------------------------------------------------------------
# SQL step of etl_upsert and ANN probe of corpus_curation

QUERY_ID_BASE = 1_000_000_000


def report_queries(seed: int, index: int, batch: Batch) -> list[str]:
    """The SQL step after merging batch ``index``: a Q1-shaped report over
    the new snapshot (seeded ship-date cutoff) and a point lookup of the
    batch's first key."""
    rng = np.random.default_rng([seed, 0x51, index])
    d = EPOCH + dt.timedelta(days=int(rng.integers(365, DATE_SPAN_DAYS)))
    ok, ln = batch.rows[0][0], batch.rows[0][1]
    return [
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base_price, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= DATE '{d}' GROUP BY l_returnflag, l_linestatus",
        f"SELECT * FROM lineitem WHERE l_orderkey = {ok} AND l_linenumber = {ln}",
    ]


def embeddings(seed: int, n: int, dim: int = 64, clusters: int = 32, rank: int = 8) -> np.ndarray:
    """Clustered embeddings: each cluster is a random rank-``rank``
    subspace around its center plus a little isotropic noise, so both
    the coarse IVF cells and the PQ codebooks have structure to find."""
    rng = np.random.default_rng([seed, 0xE3B])
    centers = rng.normal(size=(clusters, dim))
    basis = 0.4 * rng.normal(size=(clusters, rank, dim))
    labels = rng.integers(0, clusters, n)
    z = rng.normal(size=(n, rank))
    return centers[labels] + np.einsum("nr,nrd->nd", z, basis[labels]) + 0.05 * rng.normal(size=(n, dim))


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(1, len(vecs) + 1), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }),
        path,
    )


def probe_vectors(seed: int, index: int, vecs: np.ndarray, n: int) -> list[tuple[int, list[float]]]:
    """Shard ``index``'s decontamination probes: (query id, vector) pairs,
    each a perturbed copy of a random reference vector."""
    rng = np.random.default_rng([seed, 0xA77, index])
    picks = rng.integers(len(vecs), size=n)
    noisy = vecs[picks] + 0.2 * rng.normal(size=(n, vecs.shape[1]))
    return [(QUERY_ID_BASE + index * n + j, [float(x) for x in v]) for j, v in enumerate(noisy)]
