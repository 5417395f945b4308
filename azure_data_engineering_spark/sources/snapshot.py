"""Manifest-committed snapshot tables: transactional semantics on
plain parquet, with no table-format dependency.

The reference commits loads transactionally through an ON COMMIT DROP
staging table plus a single MERGE statement (PGHelperFunction.py:74-77,
adffunction/__init__.py:180) — readers never observe a half-applied
load. SURVEY §4 maps that contract to Delta/Iceberg MERGE; this env has
neither, so this module re-expresses the public Delta Lake idea (a log
of snapshot manifests plus an atomically-swapped current pointer —
Armbrust et al., "Delta Lake: High-Performance ACID Table Storage over
Cloud Object Stores", VLDB 2020) at its minimum viable size.

Layout:
    {table}/data/commit-*/part-*.parquet     immutable data files, one
                                             directory per commit attempt
    {table}/_manifests/v{N}.json             full file list of snapshot N
    {table}/_current                         pointer file: "N"

Commit protocol — the only one; snapshot_write, snapshot_merge and
snapshot_apply_cdc all use it. It needs a filesystem with O_EXCL create
and atomic single-file rename, and follows Delta Lake's log rule: the
put-if-absent create of log entry N is the lock for commit N.
    1. read the current version P and build the commit against it (a
       merge reads snapshot P); stage its data files in a fresh
       per-attempt directory (distributed `df.write.parquet`)
    2. claim slot P+1: create v{P+1}.json with O_CREAT|O_EXCL, naming
       the COMPLETE file set, after re-checking that the pointer is
       still P — exactly one writer can own a slot
    3. write `_current.tmp-*` and `os.rename` it over `_current`
Step 3 is the commit point. The pointer only ever moves P -> P+1, by
the unique owner of slot P+1, whose file set was built against P. A
writer that loses step 2 leaves the table untouched, re-reads the new
current snapshot, rebuilds against it and tries the next slot, so
concurrent writers (a streaming CDC sink and a batch compaction job,
say) serialize instead of one silently dropping the other's commit.
Readers go pointer → manifest → explicit file list, so they see one
snapshot even while a writer is mid-commit.

Crashes: before step 2, the staged files are orphans `vacuum` removes.
Between steps 2 and 3 the slot is dead, which on a plain filesystem is
indistinguishable from slow (the limitation Delta solves with
storage-level mutual exclusion). A dead slot blocks every writer until
`release_orphan_slot` frees it, a retry carrying the same `claim_tag`
reclaims it, or a writer passing `stale_claim_timeout` reclaims it by
age.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import tempfile
import time as _time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_data_engineering_spark.operators.upsert import (
    apply_cdc,
    default_dedup_order,
    merge_upsert,
)

_MANIFEST_RE = re.compile(r"v(\d+)\.json$")
_MAX_RETRIES = 5  # consecutive lost races before a writer gives up


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "_manifests")


def _pointer_path(table: str) -> str:
    return os.path.join(table, "_current")


def snapshot_versions(table: str) -> list[int]:
    """All committed-or-orphaned manifest versions, ascending."""
    out = []
    for p in glob.glob(os.path.join(glob.escape(_manifest_dir(table)), "v*.json")):
        m = _MANIFEST_RE.search(p)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(table: str) -> int | None:
    """The committed snapshot version, or None for an empty table.
    Only the pointer decides — an orphan manifest from a crashed
    commit is invisible here."""
    try:
        with open(_pointer_path(table)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _read_manifest(table: str, version: int) -> list[str]:
    with open(os.path.join(_manifest_dir(table), f"v{version}.json")) as f:
        return json.load(f)["files"]


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed the next version slot, or the table moved
    past expected_version. The losing commit left the table untouched;
    rebase on the new current snapshot and retry."""


def _claim_tag_of(manifest: str) -> str | None:
    try:
        with open(manifest) as f:
            return json.load(f).get("claim_tag")
    except (OSError, ValueError):
        return None


def _claim_age(manifest: str) -> float | None:
    try:
        return _time.time() - os.path.getmtime(manifest)
    except OSError:
        return None


def _stage_data(df: DataFrame, table: str) -> list[str]:
    """Step 1: distributed write of one attempt's data files under a
    fresh directory, so two racers never collide on a path; returns
    their table-relative paths. A losing attempt's files are orphans
    vacuum removes."""
    root = os.path.join(table, "data")
    os.makedirs(root, exist_ok=True)
    commit_dir = tempfile.mkdtemp(prefix="commit-", dir=root)
    os.rmdir(commit_dir)  # parquet writer wants to create it itself
    df.write.parquet(commit_dir)
    return [
        os.path.relpath(p, table)
        for p in glob.glob(os.path.join(glob.escape(commit_dir), "part-*.parquet"))
    ]


def _commit(
    table: str,
    expected_version: int | None,
    files: Sequence[str],
    claim_tag: str | None = None,
    stale_claim_timeout: float | None = None,
) -> int:
    """Steps 2+3, the only code that writes a manifest or moves the
    pointer: claim slot expected+1 via O_EXCL manifest create, then
    swap the pointer. Raises ConcurrentCommitError if the pointer moved
    or the slot is already owned.

    `claim_tag` identifies the LOGICAL work unit (e.g. "<checkpoint>
    #b<batch_id>" for a streaming sink). If the slot is already claimed
    by a manifest carrying the SAME tag, the claimant was a prior
    attempt of this very work that died between claim and pointer swap
    — the caller's execution model must guarantee a single live attempt
    per tag (Structured Streaming does, per query+batch; the same
    invariant Spark's own FileStreamSink batch-manifest commit relies
    on) — so the slot is RECLAIMED by an atomic manifest replace.

    `stale_claim_timeout` (seconds) is the age-based orphan policy for
    FOREIGN claims: a claim manifest older than the timeout whose slot
    never reached the pointer is treated as a dead writer and reclaimed
    automatically — a crashed streaming sink can no longer wedge the
    table until a human calls release_orphan_slot. UNSAFE WINDOW
    (inherent to a plain filesystem, where dead and slow are
    indistinguishable): if the original claimant is merely stalled
    longer than the timeout and wakes up mid-reclaim, one of the two
    commits can be lost — set the timeout to many multiples of the
    slowest plausible claim-to-pointer-swap stall (the write itself
    happens BEFORE the claim, so this gap is milliseconds of pointer
    bookkeeping, not data-write time). The reclaim shrinks the race to
    one pointer re-check: the displaced manifest is saved first and
    atomically restored if the pointer moved mid-reclaim. None
    (default) keeps the strict behavior: dead foreign slots block
    until release_orphan_slot."""
    cur = current_version(table)
    if cur != expected_version:
        raise ConcurrentCommitError(
            f"{table}: expected version {expected_version}, found {cur} "
            "(another writer committed first — rebase and retry)"
        )
    version = (expected_version or 0) + 1
    os.makedirs(_manifest_dir(table), exist_ok=True)
    manifest = os.path.join(_manifest_dir(table), f"v{version}.json")
    payload: dict = {"version": version, "files": sorted(files)}
    if claim_tag is not None:
        payload["claim_tag"] = claim_tag

    def _replace_manifest() -> None:
        fd2, tmp = tempfile.mkstemp(prefix="_reclaim.tmp-", dir=table)
        with os.fdopen(fd2, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, manifest)

    try:
        fd = os.open(manifest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        age = _claim_age(manifest)
        if claim_tag is not None and _claim_tag_of(manifest) == claim_tag:
            _replace_manifest()  # reclaim our own dead attempt
        elif (
            stale_claim_timeout is not None
            and age is not None
            and age > stale_claim_timeout
        ):
            # age-based orphan reclaim: save the displaced claim so the
            # residual stalled-not-dead race can be rolled back
            try:
                with open(manifest, "rb") as f:
                    displaced = f.read()
            except OSError:
                displaced = None
            # Reject reclaim if the slot's version already reached the
            # pointer: overwriting a COMMITTED manifest, even briefly,
            # would serve readers the reclaimer's file list under the
            # claimant's committed version (ADVICE r10). Only an
            # uncommitted orphan may be displaced.
            if current_version(table) != expected_version:
                raise ConcurrentCommitError(
                    f"{table}: v{version} committed while evaluating "
                    "stale-claim reclaim — rebase and retry"
                ) from None
            _replace_manifest()
            if current_version(table) != expected_version:
                # the claimant committed between our fence check and the
                # replace — restore its manifest and lose the race
                if displaced is not None:
                    fd3, tmp3 = tempfile.mkstemp(prefix="_restore.tmp-", dir=table)
                    with os.fdopen(fd3, "wb") as f:
                        f.write(displaced)
                    os.replace(tmp3, manifest)
                raise ConcurrentCommitError(
                    f"{table}: stale-claim reclaim of v{version} lost to the "
                    "original claimant waking up — rebase and retry"
                ) from None
        else:
            raise ConcurrentCommitError(
                f"{table}: version slot v{version} is already claimed "
                "(a concurrent writer owns it, or a crashed commit left an "
                "orphan slot — see release_orphan_slot, or pass "
                "stale_claim_timeout for age-based auto-reclaim)"
            ) from None
    else:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
    fd2, tmp = tempfile.mkstemp(prefix="_current.tmp-", dir=table)
    with os.fdopen(fd2, "w") as f:
        f.write(str(version))
    os.rename(tmp, _pointer_path(table))  # the commit point
    return version


def _commit_loop(
    table: str,
    build: Callable[[int | None], list[str]],
    claim_tag: str | None = None,
    stale_claim_timeout: float | None = None,
) -> int:
    """The rebase loop every writer commits through: read the current
    version, `build` the commit's complete file list against it, claim
    the next slot; on a lost race, rebuild against the winner's
    snapshot and try again. A build is reused while the pointer has not
    moved (the slot's holder is between its claim and its pointer swap,
    or dead), so waiting out a held slot costs a short backoff, not a
    recomputed Spark job. The final error carries the last loss's
    reason."""
    built: dict[int | None, list[str]] = {}
    last: ConcurrentCommitError | None = None
    for attempt in range(_MAX_RETRIES):
        if attempt:
            _time.sleep(0.01 * 2**attempt)
        base = current_version(table)
        if base not in built:
            built = {base: build(base)}
        try:
            return _commit(
                table,
                base,
                built[base],
                claim_tag=claim_tag,
                stale_claim_timeout=stale_claim_timeout,
            )
        except ConcurrentCommitError as exc:
            last = exc
    raise ConcurrentCommitError(
        f"{table}: lost {_MAX_RETRIES} consecutive commit races; last: {last}"
    ) from last


def release_orphan_slot(table: str, version: int) -> None:
    """Free a version slot claimed by a writer that died between the
    O_EXCL manifest create and the pointer swap. DESTRUCTIVE if the
    writer is merely slow — on a plain filesystem dead and slow are
    indistinguishable (the limitation real table formats solve with
    storage-level mutual exclusion), so this is an explicit operator
    action, never called automatically. Refuses to touch a committed
    version."""
    cur = current_version(table)
    if cur is not None and version <= cur:
        raise ValueError(
            f"v{version} is committed (current is v{cur}); refusing to release"
        )
    manifest = os.path.join(_manifest_dir(table), f"v{version}.json")
    if os.path.exists(manifest):
        os.remove(manifest)


def snapshot_write(df: DataFrame, table: str, mode: str = "overwrite") -> int:
    """Commit df as the next snapshot. `overwrite` replaces the file
    set; `append` unions the current snapshot's files with the new
    ones — an O(new data) commit, no rewrite of existing files. The
    data is staged once; a lost race only re-reads the winner's file
    list."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    new = _stage_data(df, table)

    def build(base: int | None) -> list[str]:
        if mode == "append" and base is not None:
            return _read_manifest(table, base) + new
        return new

    return _commit_loop(table, build)


def snapshot_read(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """The table at a snapshot (default: current) — time travel is just
    reading an older manifest. The scan gets an explicit file list, so
    a concurrent in-flight commit can never leak half its files in."""
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshot at {table}")
    files = [os.path.join(table, rel) for rel in _read_manifest(table, v)]
    return spark.read.parquet(*files)


def _upsert_commit(
    rows: DataFrame,
    payload: Sequence[str],
    table: str,
    pk: Sequence[str],
    dedup_order: Sequence | None,
    apply: Callable[[DataFrame, list], DataFrame],
    claim_tag: str | None,
    stale_claim_timeout: float | None,
) -> int:
    """What snapshot_merge and snapshot_apply_cdc share: default the
    in-batch dedup order over the `payload` columns, read the target
    at each attempt's base version (an empty frame of the payload
    schema on an empty table), and stage `apply(target, order)`."""
    spark = rows.sparkSession
    order = list(dedup_order) if dedup_order is not None else default_dedup_order(payload, pk)

    def build(base: int | None) -> list[str]:
        if base is None:
            target = spark.createDataFrame([], rows.select(*payload).schema)
        else:
            target = snapshot_read(spark, table, version=base)
        return _stage_data(apply(target, order), table)

    return _commit_loop(table, build, claim_tag, stale_claim_timeout)


def snapshot_merge(
    source: DataFrame,
    table: str,
    pk: Sequence[str],
    dedup_order: Sequence | None = None,
    claim_tag: str | None = None,
    stale_claim_timeout: float | None = None,
) -> int:
    """MERGE source into the table as one atomic commit: read the
    current snapshot, apply merge_upsert (update-matched /
    insert-unmatched / deterministic in-source dedup), write the result
    as the next snapshot. Readers see the pre-merge table until the
    pointer swaps — the reference's staging-then-single-MERGE contract
    (PGHelperFunction.py:74-77) on files. First merge into an empty
    table commits the deduped source. `claim_tag` and
    `stale_claim_timeout` are the dead-slot recovery policies of
    _commit."""
    return _upsert_commit(
        source,
        source.columns,
        table,
        pk,
        dedup_order,
        lambda target, order: merge_upsert(target, source, pk, dedup_order=order),
        claim_tag,
        stale_claim_timeout,
    )


def snapshot_apply_cdc(
    changes: DataFrame,
    table: str,
    pk: Sequence[str],
    op_col: str = "op",
    dedup_order: Sequence | None = None,
    claim_tag: str | None = None,
    stale_claim_timeout: float | None = None,
) -> int:
    """Apply an I/U/D changelog batch to the table as one atomic
    commit (operators/upsert.apply_cdc semantics: upserts merge,
    deletes remove the key, same-batch conflicts resolve by
    dedup_order with the winner's op deciding). The delete-capable
    sibling of snapshot_merge, with the same `claim_tag` and
    `stale_claim_timeout`; an all-delete first batch on an empty table
    commits an empty snapshot."""
    return _upsert_commit(
        changes,
        [c for c in changes.columns if c != op_col],
        table,
        pk,
        dedup_order,
        lambda target, order: apply_cdc(
            target, changes, pk, op_col=op_col, dedup_order=order
        ),
        claim_tag,
        stale_claim_timeout,
    )


def snapshot_diff(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int,
    pk: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Change-data-feed between two committed snapshots: the I/U/D
    changelog that replays `from_version` into `to_version` — the
    inverse of snapshot_apply_cdc, and the piece that lets a
    downstream consumer (another table, a JDBC sink, a cache)
    incrementally follow a snapshot table it cannot tail.

    One full outer join on pk: keys only in `to` emit I with the new
    payload; only in `from` emit D (payload = old row, matching the
    delete rows streaming/sinks.py produces); present in both emit U
    iff any payload column differs — compared as a struct equality,
    which is null-safe per field and needs no per-column codegen
    explosion. Unchanged keys emit nothing, so the feed is O(changed)
    rows regardless of table size; the join shuffles on pk exactly
    like the MERGE that produced the versions."""
    old = snapshot_read(spark, table, version=from_version)
    new = snapshot_read(spark, table, version=to_version)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot_diff: schema changed between v{from_version} and "
            f"v{to_version}; diff requires a stable column set"
        )
    payload = [c for c in new.columns if c not in pk]
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in old.columns],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in new.columns],
        F.lit(True).alias("__in_new"),
    )
    cond = None
    for c in pk:
        eq = o[f"__o_{c}"].eqNullSafe(n[f"__n_{c}"])
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    changed = ~F.struct(*[F.col(f"__o_{c}") for c in payload]).eqNullSafe(
        F.struct(*[F.col(f"__n_{c}") for c in payload])
    )
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [
        F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c)
        for c in pk
    ] + [
        F.when(F.col("__in_new").isNull(), F.col(f"__o_{c}"))
        .otherwise(F.col(f"__n_{c}"))
        .alias(c)
        for c in payload
    ]
    return (
        joined.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(op_col, *out_cols)
    )


def vacuum(table: str, keep_last: int = 1) -> int:
    """Drop committed manifests older than the newest `keep_last` and
    every data file no remaining manifest references — including files
    orphaned by crashed or losing commits. Only versions at or below
    the pointer count toward `keep_last`, so the current one is always
    kept; claims above the pointer (a live writer mid-commit, or a dead
    slot awaiting release_orphan_slot) are left alone together with the
    files they name. Returns the number of data files deleted."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cur = current_version(table) or 0
    committed = [v for v in snapshot_versions(table) if v <= cur]
    for v in committed[:-keep_last]:
        os.remove(os.path.join(_manifest_dir(table), f"v{v}.json"))
    referenced: set[str] = set()
    for v in snapshot_versions(table):
        referenced.update(_read_manifest(table, v))
    removed = 0
    data_root = os.path.join(table, "data")
    for p in glob.glob(os.path.join(glob.escape(data_root), "commit-*", "*.parquet")):
        if os.path.relpath(p, table) not in referenced:
            os.remove(p)
            removed += 1
    for d in glob.glob(os.path.join(glob.escape(data_root), "commit-*")):
        if not os.listdir(d):
            shutil.rmtree(d, ignore_errors=True)
    return removed
