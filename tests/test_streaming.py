"""Structured Streaming ingestion tests: incremental exactly-once parse
(stream == batch), and watermarked windowed metrics."""

from __future__ import annotations

from pdf_extractor_spark.job.extract import parse_transcripts
from pdf_extractor_spark.queries.extraction import transcripts_df
from pdf_extractor_spark.streaming.ingest import (
    stream_parse,
    stream_turn_metrics,
)


def _sorted_rows(df, cols=("conv_id", "turn_idx", "seq", "answer_latex")):
    return sorted(tuple(str(x) for x in r) for r in df.select(*cols).collect())


def test_stream_parse_matches_batch_and_is_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_df = transcripts_df(spark, n_convs=8, seed=5)
    first = all_df.filter("conv_id < 'c00004'")
    second = all_df.filter("conv_id >= 'c00004'")

    # chunk 1 arrives → drain
    first.write.mode("append").parquet(src)
    q = stream_parse(spark, src, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == parse_transcripts(first).count()

    # chunk 2 arrives → drain processes ONLY the new files
    second.write.mode("append").parquet(src)
    q = stream_parse(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert _sorted_rows(got) == _sorted_rows(parse_transcripts(all_df))

    # nothing new → no duplicate reprocessing
    q = stream_parse(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == got.count()


def test_streaming_pipeline_equals_batch_end_to_end(spark, tmp_path):
    """The round-3 streaming↔batch parity gate: drive the seed-42 corpus
    through the STREAMING path (stream_parse with availableNow, arriving
    in two chunks, then the batch compactor over the parsed table) and
    assert row-for-row equality with a one-shot run_extract — the
    carried-state contract of the reference's page loop
    (/root/reference/src/pipeline.py:221-243) held across the
    stream/batch boundary."""
    from pdf_extractor_spark.job.extract import (
        extract_from_parsed,
        run_extract,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "parsed")
    ckpt = str(tmp_path / "ckpt_e2e")

    all_df = transcripts_df(spark, n_convs=12, seed=42)
    # two arrival chunks SPLIT MID-CONVERSATION: the compactor must
    # stitch fragments whose pieces arrived in different micro-batches
    first = all_df.filter("turn_idx < 4")
    second = all_df.filter("turn_idx >= 4")
    for chunk in (first, second):
        chunk.write.mode("append").parquet(src)
        q = stream_parse(spark, src, out, ckpt)
        q.awaitTermination(120)

    streamed = extract_from_parsed(spark.read.parquet(out))
    batch = run_extract(all_df)

    cols = ("conv_id", "turn_idx", "span_id", "question_latex", "text",
            "turn_start", "turn_end", "kind", "n_fragments",
            "had_reference")
    a = sorted(tuple(str(x) for x in r) for r in streamed.select(*cols).collect())
    b = sorted(tuple(str(x) for x in r) for r in batch.select(*cols).collect())
    assert a == b


def test_stream_turn_metrics_windows(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt_m")
    tdf = transcripts_df(spark, n_convs=5, seed=9)
    tdf.write.mode("overwrite").parquet(src)

    q = stream_turn_metrics(spark, src, ckpt, query_name="tm_test")
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM tm_test")
    # generator stamps one turn per minute from a fixed epoch → windows
    # exist and totals cover every turn whose window closed before the
    # watermark; at availableNow drain the final watermark passes all
    rows = res.collect()
    assert len(rows) > 0
    assert {r.role for r in rows} <= {"user", "assistant", "tool"}
    assert all(r.n_turns >= 1 for r in rows)
