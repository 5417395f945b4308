"""Sorted and Z-ordered layouts for data-skipping parquet scans.

At 100 TB the cheapest predicate is the one that never reads a row
group: parquet stores min/max statistics per row group, and a scan
whose pushed filter falls outside a group's range skips it entirely.
That only pays off if values are clustered — a randomly-laid-out
table has every row group spanning the full value range, so nothing
skips.

A layout is a ``snapshot_compact`` commit (sources/snapshot.py), as
``OPTIMIZE … ZORDER BY`` is one more log commit in Delta Lake: write
the table with ``snapshot_write``, then compact it with ``sort_cols``,
which range-partitions rows so each file covers a narrow, disjoint
slice of the key space and sorts within each file so each row group
covers a narrower one. ``sort_cols=["lang", "doc_id"]`` is a linear
(lexicographic) clustering, where the leading column dominates;
``sort_cols=[z_value("doc_id", "n_chars")]`` is a Z-order clustering
that keeps both columns local. The Morton key is an expression, not a
column, so the compacted table keeps exactly its input columns.

Reference parity: the reference always appends unclustered
(adffunction/__init__.py:180 writes straight from the staging frame);
this is the write-side optimization Spark makes available.
"""

from __future__ import annotations


def z_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns, as a pure codegen expression — a
    chain of shift/mask/or terms, no UDF. A linear sort only skips on
    the leading column; the Z-curve keeps BOTH dimensions locality-
    preserving, so a range filter on either column (or a box on both)
    maps to a bounded set of z-ranges and still skips row groups."""
    from pyspark.sql import functions as F

    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(xc.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(yc.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z
