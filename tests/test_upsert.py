"""MERGE-shaped upsert: newest-wins semantics (vs a pure-Python dict
overlay mirroring /root/reference/src/reviewer.py:238-266), snapshot
isolation under a simulated writer crash, and the broadcast anti-join
plan shape."""

from __future__ import annotations

import os

import pytest

from pdf_extractor_spark.job.upsert import (
    ConcurrentWriteError,
    _read_pointer,
    force_unlock,
    merge_upsert,
    read_table,
)

SCHEMA = "qa_id string, decision string, reviewed_at bigint"


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "reviews_table")


def test_merge_upsert_newest_wins(spark, table_dir):
    base = spark.createDataFrame(
        [("a", "accepted", 1), ("b", "rejected", 1), ("c", "skipped", 1)],
        SCHEMA,
    )
    merge_upsert(spark, table_dir, base, ["qa_id"])

    updates = spark.createDataFrame(
        [("b", "accepted", 2), ("d", "rejected", 2)], SCHEMA
    )
    merge_upsert(spark, table_dir, updates, ["qa_id"])

    got = _rows(read_table(spark, table_dir))

    # independent mirror: the reference's dict overlay
    overlay = {r[0]: r for r in
               [("a", "accepted", 1), ("b", "rejected", 1),
                ("c", "skipped", 1)]}
    for r in [("b", "accepted", 2), ("d", "rejected", 2)]:
        overlay[r[0]] = r
    assert got == set(overlay.values())


def test_merge_upsert_crash_leaves_previous_snapshot(spark, table_dir):
    base = spark.createDataFrame([("a", "accepted", 1)], SCHEMA)
    merge_upsert(spark, table_dir, base, ["qa_id"])
    before = _rows(read_table(spark, table_dir))

    # simulate a writer dying AFTER the snapshot parquet write but BEFORE
    # the pointer swap: write an orphan snapshot dir by hand
    orphan = os.path.join(table_dir, "snapshot=99")
    spark.createDataFrame([("zz", "corrupt", 9)], SCHEMA) \
        .write.parquet(orphan)

    # readers still resolve the committed pointer, not the orphan
    assert _read_pointer(table_dir) == 0
    assert _rows(read_table(spark, table_dir)) == before


def test_merge_upsert_multi_generation(spark, table_dir):
    expected = {}
    for gen in range(4):
        batch = [(f"qa{i}", f"d{gen}", gen) for i in range(gen, gen + 3)]
        for r in batch:
            expected[r[0]] = r
        snap = merge_upsert(
            spark, table_dir,
            spark.createDataFrame(batch, SCHEMA), ["qa_id"],
        )
        assert snap == gen
    assert _rows(read_table(spark, table_dir)) == set(expected.values())


def test_concurrent_writer_blocked_by_commit_lock(spark, table_dir):
    base = spark.createDataFrame([("a", "accepted", 1)], SCHEMA)
    merge_upsert(spark, table_dir, base, ["qa_id"])

    # a second writer mid-commit = lock file present
    with open(os.path.join(table_dir, "_COMMIT_LOCK"), "w") as f:
        f.write("pid=other\n")
    updates = spark.createDataFrame([("a", "rejected", 2)], SCHEMA)
    with pytest.raises(ConcurrentWriteError, match="commit lock held"):
        merge_upsert(spark, table_dir, updates, ["qa_id"])
    # committed state untouched by the refused merge
    assert _rows(read_table(spark, table_dir)) == {("a", "accepted", 1)}

    # operator clears the stale lock → merge proceeds, lock released after
    force_unlock(table_dir)
    merge_upsert(spark, table_dir, updates, ["qa_id"])
    assert _rows(read_table(spark, table_dir)) == {("a", "rejected", 2)}
    assert not os.path.exists(os.path.join(table_dir, "_COMMIT_LOCK"))


def test_cas_loser_does_not_clobber_committed_snapshot(
    spark, table_dir, monkeypatch
):
    """A writer that slipped past the lock (post-force_unlock race) and
    loses the pointer CAS must leave the winner's committed snapshot
    byte-intact: attempts write to a unique staging dir and only rename
    into ``snapshot=<n>`` AFTER the CAS passes."""
    import pdf_extractor_spark.job.upsert as up

    base = spark.createDataFrame([("a", "accepted", 1)], SCHEMA)
    merge_upsert(spark, table_dir, base, ["qa_id"])  # snapshot 0

    real = up._read_pointer
    calls = {"n": 0}

    def racy(td):
        calls["n"] += 1
        if calls["n"] == 2:
            # between A's base read and its merge write, writer B commits
            # snapshot 1 out from under A
            spark.createDataFrame([("b", "by-B", 2)], SCHEMA) \
                .write.parquet(os.path.join(td, "snapshot=1"))
            up._commit_pointer(td, 1)
        return real(td)

    monkeypatch.setattr(up, "_read_pointer", racy)
    updates = spark.createDataFrame([("a", "by-A", 3)], SCHEMA)
    with pytest.raises(ConcurrentWriteError, match="pointer moved"):
        merge_upsert(spark, table_dir, updates, ["qa_id"])
    monkeypatch.setattr(up, "_read_pointer", real)

    # B's committed snapshot survives A's losing attempt verbatim
    assert _read_pointer(table_dir) == 1
    assert ("b", "by-B", 2) in _rows(read_table(spark, table_dir))
    assert ("a", "by-A", 3) not in _rows(read_table(spark, table_dir))
    # no staging garbage, and the lock was released despite the raise
    leftovers = [d for d in os.listdir(table_dir)
                 if d.startswith("_staging-")]
    assert leftovers == []
    assert not os.path.exists(os.path.join(table_dir, "_COMMIT_LOCK"))
    # A can retry against the new snapshot and win cleanly
    merge_upsert(spark, table_dir, updates, ["qa_id"])
    assert ("a", "by-A", 3) in _rows(read_table(spark, table_dir))


def test_release_after_force_unlock_spares_new_writers_lock(
    spark, table_dir
):
    """If an operator force-unlocks writer A mid-commit and writer B
    takes a fresh lock at the same path, A's release must NOT delete
    B's live lock (ownership is token-checked), and a vanished lock
    must not raise out of release."""
    from pdf_extractor_spark.job.upsert import _acquire_lock, _release_lock

    os.makedirs(table_dir, exist_ok=True)
    path_a, token_a = _acquire_lock(table_dir)
    force_unlock(table_dir)          # operator thinks A crashed
    # release of a vanished lock is a no-op, not FileNotFoundError
    _release_lock(path_a, token_a)

    path_b, token_b = _acquire_lock(table_dir)   # B's live lock
    _release_lock(path_a, token_a)   # A's late release
    assert os.path.exists(path_b), "B's live lock must survive"
    _release_lock(path_b, token_b)
    assert not os.path.exists(path_b)


def test_merge_plan_broadcasts_small_updates(spark, table_dir):
    base = spark.createDataFrame(
        [(f"qa{i}", "accepted", 1) for i in range(500)], SCHEMA
    )
    merge_upsert(spark, table_dir, base, ["qa_id"])
    updates = spark.createDataFrame([("qa1", "rejected", 2)], SCHEMA)

    from pyspark.sql import functions as F

    current = read_table(spark, table_dir)
    survivors = current.join(
        F.broadcast(updates.select("qa_id").distinct()),
        ["qa_id"], "left_anti",
    )
    plan = survivors._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan
