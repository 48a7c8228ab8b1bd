"""Structured Streaming ingestion for the extraction pipeline.

Two-phase design (SURVEY.md §4.1): the per-turn PARSE is embarrassingly
parallel and stateless, so it streams; the cross-turn LINK/STITCH needs
conversation-ordered context, so it runs as the periodic batch compactor
(job/extract.py stages 2-4) over the parsed table.  This mirrors the
reference's split between per-page extraction (pipeline.py:214-256) and
document-level stitching (pipeline.py:259-309) — the page loop is the
stream, the stitch is the snapshot job.

- ``stream_parse``   — readStream(parquet transcripts) →
  ``parse_transcripts`` (the batch job's own parse stage) → parquet sink
  with a streaming checkpoint.  ``trigger(availableNow)`` drains whatever has
  arrived and stops — the idempotent micro-batch shape; exactly-once
  comes from the checkpoint + file-sink manifest.
- ``stream_turn_metrics`` — watermarked tumbling-window counts per role:
  the late-data-tolerant audit stream (1-minute windows, 5-minute
  watermark).

At cluster scale the same code points at the Iceberg/Kafka source; the
parquet file source is the sandbox stand-in.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pdf_extractor_spark.job.extract import parse_transcripts
from pdf_extractor_spark.queries.extraction import TRANSCRIPTS_SCHEMA


def stream_parse(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally parse arriving transcript files into fragment rows."""
    src = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    parsed = parse_transcripts(src)
    return (
        parsed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_turn_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "turn_metrics",
) -> StreamingQuery:
    """Watermarked 1-minute tumbling-window turn counts per role →
    in-memory sink (the audit/monitoring stream)."""
    src = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .parquet(input_dir)
    )
    agg = (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"), "role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "role", "n_turns", "n_chars",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
