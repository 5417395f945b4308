"""PK-based MERGE/upsert with the reference's exact semantics.

The reference's most query-engine-like code is the generated Postgres
upsert (SharedCode/PGHelperFunction.py:44-67):

  WITH updates AS (UPDATE target t SET <non-pk cols> FROM source s
                   WHERE t.pk = s.pk RETURNING s.pk)
  INSERT INTO target SELECT s.* FROM source s
  LEFT JOIN updates USING (pk) WHERE updates.pk IS NULL GROUP BY s.pk

i.e. MERGE semantics: update-matched, insert-not-matched, with the
source deduplicated on PK. The reference's `GROUP BY s_pk` picks an
*arbitrary* surviving row (PGHelperFunction.py:56); we make that
deterministic via an explicit order (SURVEY.md §7 hard-parts).

Spark-first implementation: one shuffle on the PK for each side —
  merged = source-winners ∪ (target ⟕anti source)
which is exactly `whenMatchedUpdateAll / whenNotMatchedInsertAll`.
On a Delta/Iceberg table this becomes a metadata-transactional
`MERGE INTO` (see sources/jdbc.py for the JDBC staging variant that
mirrors the reference's temp-table COPY at PGHelperFunction.py:74-75).

Scale: both inputs shuffle-hash/sort-merge on pk; AQE handles skewed
PKs. No broadcast assumption — target is the 100 TB side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_data_engineering_spark.operators.relational import dedup_keep_first


def default_dedup_order(columns: Sequence[str], pk: Sequence[str]) -> list[Column]:
    """A real total order for PK-dedup when the caller has no domain
    order: descending struct over the non-PK payload columns. Ordering
    by the PK itself is a no-op inside a window already partitioned by
    that PK — duplicate PKs with different payloads would survive
    arbitrarily, the exact nondeterminism this module exists to remove
    (PGHelperFunction.py:56). Struct comparison is field-wise, so any
    payload difference yields a defined winner; identical payloads are
    interchangeable by construction."""
    payload = [c for c in columns if c not in set(pk)]
    if not payload:
        return [F.lit(1)]  # rows per PK are fully identical
    return [F.struct(*[F.col(c) for c in payload]).desc()]


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    pk: Sequence[str],
    dedup_order: Sequence[Column] | None = None,
) -> DataFrame:
    """Return target MERGE source on pk (update-matched,
    insert-not-matched, source deduped on pk).

    dedup_order: explicit total order for which source row wins per PK
    (deterministic replacement for PGHelperFunction.py:56's arbitrary
    `GROUP BY s_pk`). None = source is already unique on pk.
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target={target.columns} source={source.columns}"
        )
    source = source.select(*target.columns)  # align column order
    # dedup keeps one row per key, so the raw source names the same keys;
    # anti-joining on them plans the dedup window once, not per branch
    keep_from_target = target.join(source.select(*pk), on=list(pk), how="left_anti")
    if dedup_order is not None:
        source = dedup_keep_first(source, pk, dedup_order)
    return source.unionByName(keep_from_target)


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    pk: Sequence[str],
    op_col: str = "op",
    dedup_order: Sequence[Column] | None = None,
) -> DataFrame:
    """Apply a Debezium-style changelog to a table: ``changes`` carries
    the target schema plus ``op_col`` in {'I','U','D'}. Inserts and
    updates merge exactly as merge_upsert; delete rows remove the key.
    When one key appears multiple times in the batch, ``dedup_order``
    picks the surviving change (latest-wins order recommended) and its
    op decides the outcome — so an upsert followed by a delete in the
    same batch deletes, matching log-compaction semantics.

    Plan shape: one dedup window over the changes, one anti-join to
    drop deleted/replaced target rows, one union — all shuffles hash
    on the PK, no driver round-trip."""
    ops = {"I", "U", "D"}
    payload_cols = [c for c in changes.columns if c != op_col]
    # deleted OR replaced keys leave target: every key in the batch,
    # taken before the dedup (same key set) as in merge_upsert
    touched = changes.select(*pk)
    if dedup_order is not None:
        changes = dedup_keep_first(changes, pk, dedup_order)
    changes = changes.withColumn(
        op_col,
        F.when(F.col(op_col).isin(*ops), F.col(op_col)).otherwise(
            F.raise_error(F.concat(F.lit("apply_cdc: bad op "), F.col(op_col)))
        ),
    )
    upserts = changes.filter(F.col(op_col) != "D").select(*payload_cols)
    keep_from_target = target.join(touched, on=list(pk), how="left_anti")
    return upserts.select(*target.columns).unionByName(keep_from_target)
