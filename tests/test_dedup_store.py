"""Incremental dedup store: exact/near detection across batches,
identity-safe re-checks, catalog re-registration after restart, and the
no-store-shuffle bucketed-join plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pdf_extractor_spark.job.dedup_store import (
    add_batch,
    check_batch,
    create_store,
    open_store,
)
from pdf_extractor_spark.queries.base import load

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark, n=10):
    return (
        load(spark, SF_DIR, "documents")
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .filter(F.col("doc_id") < n)
    )


def _batch(spark):
    """100 = exact copy of doc 3, 101 = near copy of doc 5 (first word
    dropped — the dedup-query near-dup derivation), 102 = fresh text."""
    base = _corpus(spark).filter(F.col("doc_id").isin([3, 5]))
    exact = base.filter(F.col("doc_id") == 3).select(
        F.lit(100).cast("bigint").alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") == 5).select(
        F.lit(101).cast("bigint").alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    fresh = base.sparkSession.createDataFrame(
        [(102, "a genuinely new document that matches nothing else xyz")],
        "doc_id bigint, text string",
    )
    return exact.unionByName(near).unionByName(fresh)


@pytest.fixture()
def store(spark, tmp_path):
    name = f"dstore_{abs(hash(str(tmp_path))) % 10 ** 8}"
    create_store(str(tmp_path / "store"), name, _corpus(spark))
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}_fp")
    spark.sql(f"DROP TABLE IF EXISTS {name}_bands")


def test_check_batch_flags_exact_and_near(spark, store):
    got = check_batch(spark, store, _batch(spark))
    exact = {(r.doc_id, r.dup_of) for r in got["exact"].collect()}
    near = {(r.doc_id, r.near_of) for r in got["near"].collect()}
    assert exact == {(100, 3)}
    assert (101, 5) in near
    flagged = {d for d, _ in exact} | {d for d, _ in near}
    assert 102 not in flagged, "fresh doc must pass clean"


def test_recheck_after_ingest_is_identity_safe(spark, store):
    batch = _batch(spark)
    add_batch(spark, store, batch)
    again = check_batch(spark, store, batch)
    exact = {(r.doc_id, r.dup_of) for r in again["exact"].collect()}
    # 100 still resolves to doc 3 (its fingerprint was never re-added —
    # it was a known text), and the now-ingested fresh doc matches only
    # itself, which the identity filter excludes
    assert exact == {(100, 3)}
    assert 102 not in {r.doc_id for r in again["near"].collect()}

    # a later batch duplicating the ingested fresh doc is caught
    copy = spark.createDataFrame(
        [(200, "a genuinely new document that matches nothing else xyz")],
        "doc_id bigint, text string",
    )
    later = check_batch(spark, store, copy)
    assert {(r.doc_id, r.dup_of) for r in later["exact"].collect()} == {
        (200, 102)
    }


def test_open_store_reregisters_from_files(spark, store, tmp_path):
    n_fp = spark.table(f"{store}_fp").count()
    n_bands = spark.table(f"{store}_bands").count()
    spark.sql(f"DROP TABLE {store}_fp")
    spark.sql(f"DROP TABLE {store}_bands")
    open_store(spark, str(tmp_path / "store"), store)
    assert spark.table(f"{store}_fp").count() == n_fp
    assert spark.table(f"{store}_bands").count() == n_bands
    got = check_batch(spark, store, _batch(spark))
    assert {(r.doc_id, r.dup_of) for r in got["exact"].collect()} == {
        (100, 3)
    }


def test_intra_batch_duplicates_are_flagged(spark, store):
    """The store knows nothing about texts arriving twice WITHIN one
    batch; check_batch must catch them itself or a check→add flow
    admits both copies forever."""
    fresh = "another brand new document text unseen by the store qqq"
    batch = spark.createDataFrame(
        [
            (300, fresh),                       # first copy
            (301, fresh),                       # exact intra-batch dup
            (302, fresh.split(" ", 1)[1]),      # near intra-batch dup
        ],
        "doc_id bigint, text string",
    )
    got = check_batch(spark, store, batch)
    exact = {(r.doc_id, r.dup_of) for r in got["exact"].collect()}
    near = {(r.doc_id, r.near_of) for r in got["near"].collect()}
    assert exact == {(301, 300)}
    assert (302, 300) in near or (302, 301) in near
    assert 300 not in {d for d, _ in exact} | {d for d, _ in near}


def test_null_text_is_matchable(spark, store):
    """md5(NULL) is NULL and an equi-join never matches NULL keys — a
    NULL-text doc must still dedup against other content-free docs
    (fingerprinted as the empty string), not pass clean forever."""
    batch = spark.createDataFrame(
        [(400, None), (401, None), (402, "")],
        "doc_id bigint, text string",
    )
    got = check_batch(spark, store, batch)
    exact = {(r.doc_id, r.dup_of) for r in got["exact"].collect()}
    assert exact == {(401, 400), (402, 400)}


def test_bucket_count_is_a_persisted_creation_property(spark, tmp_path):
    """Bucket ids are baked into file names; the count the files were
    written with is persisted at creation and drives every later
    registration/append/compaction — a store created with a non-default
    count must open, check, ingest, and compact correctly even though
    the module default says 16."""
    import os

    import pdf_extractor_spark.job.dedup_store as ds

    name = "store_b4"
    sdir = str(tmp_path / "store4")
    try:
        create_store(sdir, name, _corpus(spark), n_buckets=4)
        assert ds._n_buckets(sdir) == 4
        spark.sql(f"DROP TABLE {name}_fp")
        spark.sql(f"DROP TABLE {name}_bands")
        open_store(spark, sdir, name)          # re-registers with 4 buckets
        ddl = spark.sql(f"SHOW CREATE TABLE {name}_fp").collect()[0][0]
        assert "INTO 4 BUCKETS" in ddl, ddl

        got = check_batch(spark, name, _batch(spark))
        exact = {(r.doc_id, r.dup_of) for r in got["exact"].collect()}
        near = {(r.doc_id, r.near_of) for r in got["near"].collect()}
        assert exact == {(100, 3)} and (101, 5) in near  # fixture contract
        add_batch(spark, name, _batch(spark))
        gen = ds.compact_store(spark, sdir, name)
        assert gen == 1
        # compacted layout honors the persisted count: bucket ids 0..3
        buckets = {
            f.split("_")[1][:5]
            for f in _parquet_files(os.path.join(sdir, "fp-g1"))
        }
        assert buckets <= {"00000", "00001", "00002", "00003"}
        again = check_batch(spark, name, _batch(spark))
        assert {(r.doc_id, r.dup_of) for r in again["exact"].collect()} \
            == {(100, 3)}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}_fp")
        spark.sql(f"DROP TABLE IF EXISTS {name}_bands")


def test_open_store_refuses_dir_without_committed_store(spark, tmp_path):
    """``_N_BUCKETS`` is the creation commit marker.  Without it there is
    no store to open: neither a missing path (catalog tables over absent
    dirs would call every doc new) nor a store whose create crashed
    before the marker (guessing the default count would register 8-bucket
    files as 16 buckets) may be registered."""
    import os

    name = "store_nomarker"
    with pytest.raises(ValueError, match="no committed dedup store"):
        open_store(spark, str(tmp_path / "missing"), name)
    assert not spark.catalog.tableExists(f"{name}_fp")

    sdir = str(tmp_path / "store8")
    try:
        create_store(sdir, name, _corpus(spark), n_buckets=8)
        spark.sql(f"DROP TABLE {name}_fp")
        spark.sql(f"DROP TABLE {name}_bands")
        os.remove(os.path.join(sdir, "_N_BUCKETS"))
        with pytest.raises(ValueError, match="no committed dedup store"):
            open_store(spark, sdir, name)
        assert not spark.catalog.tableExists(f"{name}_fp")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}_fp")
        spark.sql(f"DROP TABLE IF EXISTS {name}_bands")


def test_open_store_rejects_path_mismatch(spark, store, tmp_path):
    """CREATE TABLE IF NOT EXISTS keeps a previously-registered table:
    opening a DIFFERENT store dir under the same name would silently
    check batches against the old store's files.  Must hard-fail."""
    other_dir = str(tmp_path / "other")
    create_store(other_dir, f"{store}_other",
                 _corpus(spark).limit(2))
    try:
        with pytest.raises(ValueError, match="different path"):
            open_store(spark, other_dir, store)
        # same name back on its own path still opens fine
        open_store(spark, str(tmp_path / "store"), store)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}_other_fp")
        spark.sql(f"DROP TABLE IF EXISTS {store}_other_bands")


def test_store_side_never_shuffles(spark, store):
    """The whole point of the bucketed layout: with broadcast disabled
    (the at-scale planner choice — a real batch is too big to
    broadcast), the store scan satisfies the join distribution from its
    buckets.  The corpus-sized side moves zero rows at any store size."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = check_batch(spark, store, _batch(spark))
        for kind in ("exact", "near"):
            plan = got[kind]._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
            assert "SortMergeJoin" in plan, (kind, plan)
            assert "Bucketed: true" in plan, (
                f"{kind}: store scan must use its bucketed layout\n{plan}"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _parquet_files(d):
    import os

    return [
        f for f in os.listdir(d)
        if f.endswith(".parquet") or f.startswith("part-")
    ]


def test_compact_store_collapses_files_and_preserves_answers(
    spark, store, tmp_path
):
    """Per-batch appends fragment the store (one file per touched bucket
    per batch); compaction must land one file per bucket in a fresh
    generation, delete the old one, and change NO answer."""
    import os

    import re

    def files_per_bucket(d):
        counts = {}
        for f in _parquet_files(d):
            m = re.search(r"_(\d{5})\D", f)
            assert m, f
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        return counts

    sdir = str(tmp_path / "store")
    for i in range(3):
        batch = spark.createDataFrame(
            [
                (1000 + 10 * i + j,
                 f"compactable fresh document number {i}-{j} zz{i}q{j}")
                for j in range(8)
            ],
            "doc_id bigint, text string",
        )
        add_batch(spark, store, batch)
    before = check_batch(spark, store, _batch(spark))
    exact_before = {(r.doc_id, r.dup_of) for r in before["exact"].collect()}
    near_before = {(r.doc_id, r.near_of) for r in before["near"].collect()}
    assert max(files_per_bucket(os.path.join(sdir, "fp-g0")).values()) > 1, \
        "appends must have fragmented at least one bucket"

    from pdf_extractor_spark.job.dedup_store import compact_store

    gen = compact_store(spark, sdir, store)
    assert gen == 1
    assert not os.path.exists(os.path.join(sdir, "fp-g0"))
    assert not os.path.exists(os.path.join(sdir, "bands-g0"))
    for d in ("fp-g1", "bands-g1"):
        assert max(files_per_bucket(os.path.join(sdir, d)).values()) == 1, d

    after = check_batch(spark, store, _batch(spark))
    assert {(r.doc_id, r.dup_of) for r in after["exact"].collect()} \
        == exact_before
    assert {(r.doc_id, r.near_of) for r in after["near"].collect()} \
        == near_before

    # the store keeps working after compaction: ingest + re-check
    add_batch(spark, store, _batch(spark))
    re = check_batch(spark, store, _batch(spark))
    assert {(r.doc_id, r.dup_of) for r in re["exact"].collect()} \
        == exact_before


def test_compact_store_splits_oversized_buckets(spark, store, tmp_path):
    """The size bound: when a table exceeds n_buckets × target bytes,
    compaction must land MULTIPLE size-bounded files per bucket (the
    refined repartition keeps each output task on exactly one bucket),
    with unchanged answers and the no-store-shuffle bucketed plan
    preserved — one file per bucket at 100 TB meant multi-TB files and
    a 16-way read cap."""
    import os
    import re

    import pdf_extractor_spark.job.dedup_store as ds

    sdir = str(tmp_path / "store")
    before = check_batch(spark, store, _batch(spark))
    exact_before = {(r.doc_id, r.dup_of) for r in before["exact"].collect()}
    near_before = {(r.doc_id, r.near_of) for r in before["near"].collect()}

    # pick the target so each table must split into ~3 files per bucket
    fp_bytes = ds._dir_bytes(os.path.join(sdir, "fp-g0"))
    target = max(1, fp_bytes // (ds._n_buckets(sdir) * 3))
    gen = ds.compact_store(spark, sdir, store, target_file_bytes=target)
    assert gen == 1

    counts: dict[str, int] = {}
    for f in _parquet_files(os.path.join(sdir, "fp-g1")):
        m = re.search(r"_(\d{5})\D", f)
        assert m, f
        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    assert max(counts.values()) > 1, (
        f"oversized buckets must split into multiple files: {counts}"
    )

    after = check_batch(spark, store, _batch(spark))
    assert {(r.doc_id, r.dup_of) for r in after["exact"].collect()} \
        == exact_before
    assert {(r.doc_id, r.near_of) for r in after["near"].collect()} \
        == near_before

    # the multi-file layout is still a valid bucketed table: the store
    # side satisfies the join distribution with NO exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = check_batch(spark, store, _batch(spark))["exact"] \
            ._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_open_store_heals_intra_store_stale_pointer(spark, store, tmp_path):
    """Crash window: _GEN swapped but catalog not yet re-registered.  A
    reopen must re-point the tables at the committed generation, not
    raise the foreign-path error."""
    import os
    import shutil as sh

    from pdf_extractor_spark.job.dedup_store import _table_location
    from pdf_extractor_spark.job.upsert import _commit_pointer

    sdir = str(tmp_path / "store")
    sh.copytree(os.path.join(sdir, "fp-g0"), os.path.join(sdir, "fp-g1"))
    sh.copytree(os.path.join(sdir, "bands-g0"),
                os.path.join(sdir, "bands-g1"))
    _commit_pointer(sdir, 1, "_GEN")
    open_store(spark, sdir, store)   # heals the stale catalog pointer
    assert _table_location(spark, f"{store}_fp").endswith("fp-g1")
    got = check_batch(spark, store, _batch(spark))
    assert {(r.doc_id, r.dup_of) for r in got["exact"].collect()} \
        == {(100, 3)}


def test_writers_are_mutually_excluded_by_commit_lock(
    spark, store, tmp_path
):
    """compact_store and add_batch take the store commit lock: a
    concurrent compaction could otherwise sweep an in-flight append's
    files (silently admitting every future copy of those texts)."""
    import os

    from pdf_extractor_spark.job.dedup_store import add_batch, compact_store
    from pdf_extractor_spark.job.upsert import ConcurrentWriteError

    sdir = str(tmp_path / "store")
    lock_path = os.path.join(sdir, "_COMMIT_LOCK")
    with open(lock_path, "w") as f:
        f.write("pid=0 token=test-holder\n")
    batch = spark.createDataFrame(
        [(900, "locked out text")], "doc_id bigint, text string"
    )
    try:
        with pytest.raises(ConcurrentWriteError):
            compact_store(spark, sdir, store)
        with pytest.raises(ConcurrentWriteError):
            add_batch(spark, store, batch)
    finally:
        os.unlink(lock_path)
    # lock released → both proceed
    add_batch(spark, store, batch)
    compact_store(spark, sdir, store)


def test_compact_sweeps_stale_generations(spark, store, tmp_path):
    """A crash AFTER the _GEN commit but before cleanup leaks the old
    generation's dirs; the next compact must sweep every superseded
    generation, not just its own source."""
    import os

    from pdf_extractor_spark.job.dedup_store import compact_store

    sdir = str(tmp_path / "store")
    # simulate the leak: a stale pre-crash generation dir
    os.makedirs(os.path.join(sdir, "fp-g90"))
    os.makedirs(os.path.join(sdir, "bands-g91"))
    gen = compact_store(spark, sdir, store)
    left = {
        d for d in os.listdir(sdir)
        if d.startswith("fp-") or d.startswith("bands-")
    }
    assert left == {f"fp-g{gen}", f"bands-g{gen}"}
