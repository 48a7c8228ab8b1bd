"""End-to-end Spark-vs-oracle equality — the correctness gate.

BASELINE.json: "matching the reference's extracted text/spans per turn
(per-turn text equality under stable turn ordering)".  The oracle is the
single-process run of the shared core; the Spark job must match it
row-for-row, including under adversarial block sizes (heavy cross-block
boundary merging) and the skew mega-conversation.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.core.oracle import OUTPUT_COLUMNS, extract_table
from pdf_extractor_spark.gen import generate_transcripts
from pdf_extractor_spark.job.extract import DEFAULT_BLOCK_SIZE, run_extract

KEY = ["conv_id", "turn_idx", "span_id"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    return (
        df[OUTPUT_COLUMNS]
        .sort_values(KEY + ["text"])
        .reset_index(drop=True)
    )


def _assert_equal(spark_df: pd.DataFrame, oracle_df: pd.DataFrame):
    s, o = _normalize(spark_df), _normalize(oracle_df)
    assert len(s) == len(o), f"row count {len(s)} != {len(o)}"
    for col in OUTPUT_COLUMNS:
        mism = (s[col] != o[col])
        assert not mism.any(), (
            f"column {col}: {mism.sum()} mismatches; first: "
            f"spark={s.loc[mism.idxmax()].to_dict()} "
            f"oracle={o.loc[mism.idxmax()].to_dict()}"
        )


@pytest.fixture(scope="module")
def corpus():
    tdf = generate_transcripts(20, seed=42)
    oracle = pd.DataFrame(
        extract_table(tdf.to_dict("records")), columns=OUTPUT_COLUMNS
    )
    return tdf, oracle


def test_equality_default_blocks(spark, corpus):
    tdf, oracle = corpus
    out = run_extract(spark.createDataFrame(tdf)).toPandas()
    _assert_equal(out, oracle)


@pytest.mark.parametrize("block_size", [2, 3, 7])
def test_equality_adversarial_block_sizes(spark, corpus, block_size):
    """Cross-block boundary merge must be invisible in the output."""
    tdf, oracle = corpus
    out = run_extract(spark.createDataFrame(tdf), block_size=block_size).toPandas()
    _assert_equal(out, oracle)


def test_equality_skew_conversation(spark):
    """One mega-conversation (FIXTURES.md §1.9) with small blocks —
    exercises salted stitching + boundary chains at volume."""
    tdf = generate_transcripts(3, seed=7, skew_conv_turns=600)
    oracle = pd.DataFrame(
        extract_table(tdf.to_dict("records")), columns=OUTPUT_COLUMNS
    )
    out = run_extract(spark.createDataFrame(tdf), block_size=16).toPandas()
    _assert_equal(out, oracle)


def test_partition_invariance(spark, corpus):
    """Output must not depend on input partitioning / shuffle order."""
    tdf, oracle = corpus
    shuffled = tdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    sdf = spark.createDataFrame(shuffled).repartition(13)
    out = run_extract(sdf, block_size=5).toPandas()
    _assert_equal(out, oracle)


def test_output_schema_stable(spark, corpus):
    tdf, _ = corpus
    out = run_extract(spark.createDataFrame(tdf))
    names = [f.name for f in out.schema.fields]
    assert names[: len(OUTPUT_COLUMNS)] == OUTPUT_COLUMNS
    assert {"sk_chapter", "sk_question", "sk_suffix"} <= set(names)


def test_null_and_empty_text_rows_are_tolerated(spark):
    """Real corpora carry null/empty payload rows; the job must skip
    them, not crash, and match the oracle doing the same."""
    import pandas as pd
    from pdf_extractor_spark.queries.extraction import TRANSCRIPTS_SCHEMA

    tdf = generate_transcripts(4, seed=23)
    dirty = pd.concat([
        tdf,
        pd.DataFrame([
            {"conv_id": "c00000", "turn_idx": 9000, "role": "assistant",
             "text": None, "tool": "", "ts": tdf["ts"].iloc[0]},
            {"conv_id": "c00001", "turn_idx": 9001, "role": "assistant",
             "text": "", "tool": "", "ts": tdf["ts"].iloc[0]},
        ]),
    ], ignore_index=True)
    dirty["turn_idx"] = dirty["turn_idx"].astype("int32")

    oracle = pd.DataFrame(
        extract_table(
            r for r in dirty.to_dict("records") if r["text"]
        ),
        columns=OUTPUT_COLUMNS,
    )
    out = run_extract(
        spark.createDataFrame(dirty, schema=TRANSCRIPTS_SCHEMA)
    ).toPandas()
    _assert_equal(out, oracle)


@pytest.mark.parametrize("block_size", [3, DEFAULT_BLOCK_SIZE])
def test_layered_stages_equal_run_extract(spark, corpus, block_size):
    """The stage interface a per-layer traced run drives
    (perfbench/worker.py:run_trace): parse → level-1 stitch → edge merge
    → resolve → finalize → sort keys, each stage materialized before the
    next, must produce exactly run_extract's rows."""
    from pdf_extractor_spark.job import extract as X
    from pdf_extractor_spark.shipping import ensure_workers

    tdf, _ = corpus
    transcripts = spark.createDataFrame(tdf)
    ensure_workers(spark)
    parsed = transcripts.select("conv_id", "turn_idx", "text") \
        .mapInPandas(X.parse_batches, X.PARSED_SCHEMA) \
        .localCheckpoint(eager=True)
    stitched = X._link_and_stitch_blocks(parsed, block_size) \
        .localCheckpoint(eager=True)
    merged = X._merge_block_edges(stitched, block_size) \
        .localCheckpoint(eager=True)
    resolved = X._resolve_references(merged).localCheckpoint(eager=True)
    layered = X.sort_key_columns(X._finalize(resolved))

    expected = run_extract(transcripts, block_size=block_size)
    assert layered.columns == expected.columns
    assert sorted(layered.collect(), key=repr) \
        == sorted(expected.collect(), key=repr)
