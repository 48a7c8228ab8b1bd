"""MERGE-shaped keyed upsert over a snapshot-versioned parquet table.

The reference merges review decisions newest-wins into a keyed store
(/root/reference/src/reviewer.py:238-266: load existing, overlay by
``qa_id``, rewrite).  The natural cluster form is Iceberg's
``MERGE INTO target USING updates ON key WHEN MATCHED THEN UPDATE WHEN
NOT MATCHED THEN INSERT`` — but no ``iceberg-spark-runtime`` jar is
available in this sandbox (no network; attempt recorded in SCALE.md), so
this module implements the same commit shape directly:

- the table is a series of immutable snapshot directories
  ``<table>/snapshot=<n>/`` plus a tiny ``_LATEST`` pointer file; readers
  resolve the pointer, so a writer crash mid-snapshot leaves the previous
  snapshot fully readable (Iceberg's metadata-pointer swap);
- the MERGE itself is exactly what Iceberg compiles copy-on-write MERGE
  to: ``target ANTI-JOIN updates ON key`` (survivors) unioned with the
  updates.  With a small updates side Catalyst broadcasts the anti-join,
  so the rewrite streams the big table once with no shuffle of the
  target — the right 100 TB plan (at petabyte scale you'd partition the
  table and rewrite only touched partitions; the snapshot layout supports
  that by writing per-partition subdirs).

Pointer swap is write-temp + ``os.replace`` — atomic on POSIX, same
guarantee the reference's checkpoint tmp+rename gives
(/root/reference/checkpoint.py:22-78).

Concurrency: Iceberg's commit is a compare-and-swap on the metadata
pointer; two writers racing on a filesystem pointer file would instead
last-write-win and silently drop a merge.  ``merge_upsert`` therefore
takes an ``O_CREAT|O_EXCL`` commit lock for the read→merge→swap span and
re-verifies the pointer is unchanged before the swap (a crashed writer
leaves a stale lock; ``force_unlock`` clears it after operator review —
the same manual-recovery contract as a stale Iceberg lock table entry).
Each attempt writes its data to a unique ``_staging-*`` dir that is
renamed to ``snapshot=<n>`` only after the CAS passes, so a racing
writer that loses the CAS never touches committed files (Iceberg's
unique-data-file-path discipline).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LATEST = "_LATEST"
_LOCK = "_COMMIT_LOCK"


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the commit lock (or won the pointer race)."""


def _read_pointer(table_dir: str, name: str = _LATEST) -> int | None:
    """The integer in pointer file ``name``, or None if it was never
    committed.  Shared by every persisted store here (upsert ``_LATEST``,
    dedup-store/IVF ``_GEN`` and ``_N_BUCKETS``)."""
    path = os.path.join(table_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip())


def _commit_pointer(table_dir: str, value: int, name: str = _LATEST) -> None:
    """Atomically swap pointer file ``name`` to ``value`` (temp file +
    ``os.replace``)."""
    fd, tmp = tempfile.mkstemp(prefix=f"{name}.", dir=table_dir)
    with os.fdopen(fd, "w") as f:
        f.write(f"{value}\n")
    os.replace(tmp, os.path.join(table_dir, name))


def _acquire_lock(table_dir: str) -> tuple[str, str]:
    """Take the commit lock; returns (path, owner token).  The token is
    written into the lock file so release can verify ownership — after a
    ``force_unlock``, this writer's lock may have been cleared and a NEW
    writer's live lock may sit at the same path; blind unlink would
    delete it and reopen the race for a third writer."""
    path = os.path.join(table_dir, _LOCK)
    token = f"pid={os.getpid()} token={uuid.uuid4().hex}"
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"commit lock held: {path} (another writer is committing; "
            "if it crashed, clear with force_unlock)"
        ) from None
    with os.fdopen(fd, "w") as f:
        f.write(token + "\n")
    return path, token


def _release_lock(path: str, token: str) -> None:
    """Unlink the lock only if this writer still owns it (the token
    matches).  A force-unlocked or replaced lock is left alone, and a
    missing lock is not an error — release must never mask an in-flight
    ConcurrentWriteError with a FileNotFoundError.

    The ownership check and the removal must be ONE atomic step: a
    read-token-then-unlink pair leaves an unbounded window in which a
    force_unlock plus a new writer's acquire can land, and the stale
    releaser's unlink would then delete the NEW writer's live lock.
    ``os.rename`` to a private name is that atomic step — exactly one
    releaser can claim the inode; a claimed lock that turns out to be
    someone else's is re-linked back (``os.link`` refuses to clobber a
    lock acquired in the gap, so the restore can never overwrite a
    third writer's).  The residual exposure is the microseconds between
    rename and link-back, and only after an operator force_unlocks under
    a live writer — misuse the CAS in merge_upsert still backstops."""
    claimed = f"{path}.releasing-{uuid.uuid4().hex}"
    try:
        os.rename(path, claimed)
    except FileNotFoundError:
        return
    try:
        with open(claimed) as f:
            owned = f.read().strip() == token
        if not owned:
            # not ours — restore unless a new lock appeared meanwhile
            try:
                os.link(claimed, path)
            except FileExistsError:
                pass
    finally:
        os.unlink(claimed)


def force_unlock(table_dir: str) -> None:
    """Clear a stale commit lock left by a crashed writer."""
    try:
        os.unlink(os.path.join(table_dir, _LOCK))
    except FileNotFoundError:
        pass


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Current committed snapshot, or None for an empty table."""
    snap = _read_pointer(table_dir)
    if snap is None:
        return None
    return spark.read.parquet(os.path.join(table_dir, f"snapshot={snap}"))


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Newest-wins MERGE of ``updates`` into the keyed table.

    Rows in ``updates`` replace existing rows with the same key; unmatched
    existing rows survive; unmatched updates insert.  If ``updates``
    carries several rows per key the caller must pre-dedupe (mirrors the
    reference's dict overlay, where later writes win within a session).
    Returns the committed snapshot id.
    """
    os.makedirs(table_dir, exist_ok=True)
    lock, lock_token = _acquire_lock(table_dir)
    # every attempt writes to its OWN staging dir, never directly to the
    # deterministic snapshot path: a writer that slipped past the lock
    # (post-force_unlock race) must not clobber a concurrently COMMITTED
    # snapshot's files before its CAS check fires — Iceberg writes data
    # files to unique paths for the same reason
    staging = os.path.join(table_dir, f"_staging-{uuid.uuid4().hex}")
    try:
        base = _read_pointer(table_dir)
        current = read_table(spark, table_dir)
        if current is None:
            merged = updates
            snap = 0
        else:
            # broadcast the distinct KEY set (not the update payload): keys
            # are compact even for large update batches, and a broadcast
            # anti-join streams the big target exactly once with no shuffle
            # of it — the copy-on-write MERGE plan at any target size
            survivors = current.join(
                F.broadcast(updates.select(*key_cols).distinct()),
                key_cols, "left_anti",
            )
            merged = survivors.unionByName(updates)
            snap = base + 1

        merged.write.mode("overwrite").parquet(staging)
        # CAS: the snapshot we merged against must still be current —
        # a writer that slipped past the lock (e.g. after force_unlock)
        # must not have its merge silently discarded
        if _read_pointer(table_dir) != base:
            raise ConcurrentWriteError(
                f"pointer moved from snapshot {base} during commit; "
                "retry the merge against the new snapshot"
            )
        snap_path = os.path.join(table_dir, f"snapshot={snap}")
        # a leftover dir here is UNCOMMITTED garbage (the pointer still
        # reads `base`, so no reader resolves it) from a writer that
        # crashed between write and swap — safe to clear under the lock
        if os.path.exists(snap_path):
            shutil.rmtree(snap_path)
        os.rename(staging, snap_path)
        # COMMIT POINT — readers only see the snapshot after the swap
        _commit_pointer(table_dir, snap)
    finally:
        if os.path.exists(staging):
            shutil.rmtree(staging)
        _release_lock(lock, lock_token)
    return snap

