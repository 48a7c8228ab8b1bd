"""Hand-built conversations for the two document-order rules of the
flagship: the resolve lookup keeps the LAST occurrence of a span id, and a
part without an id inherits the last id seen before it, however many
id-less blocks lie in between.  Each must equal ``core.oracle`` and the
value computed by hand below."""

from __future__ import annotations

import pandas as pd

from pdf_extractor_spark.core.oracle import OUTPUT_COLUMNS, extract_table
from pdf_extractor_spark.job.extract import run_extract

KEY = ["conv_id", "turn_idx", "span_id", "text"]


def _run_both(spark, conv_id, turns, block_size):
    rows = [{"conv_id": conv_id, "turn_idx": t, "text": x} for t, x in turns]
    oracle = pd.DataFrame(extract_table(rows), columns=OUTPUT_COLUMNS)
    sdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows],
        "conv_id string, turn_idx int, text string",
    )
    out = run_extract(sdf, block_size=block_size).toPandas()[OUTPUT_COLUMNS]
    norm = [d.sort_values(KEY).reset_index(drop=True) for d in (out, oracle)]
    pd.testing.assert_frame_equal(*norm, check_dtype=False)
    return norm[0]


def test_resolve_uses_the_last_occurrence_of_a_repeated_id(spark):
    # 2.1 occurs in turns 9 and 10 (a string order of the turns would pick
    # 9); 3.1 occurs twice inside turn 11, so the fragment seq decides
    turns = [
        (8, "1.1 Warm up.\nSolution. Nothing here."),
        (9, "2.1 What is x?\nSolution. First version."),
        (10, "2.1 What is x, restated?\nSolution. Second version."),
        (11, "3.1 Compute z.\nSolution. Early z.\n"
             "3.1 Compute z again.\nSolution. Late z."),
        (12, "2.2 Find y.\nSolution. Using the result of 2.1 we get y."),
        (13, "3.2 Find w.\nSolution. By 3.1 we get w."),
    ]
    for block_size in (2, 8192):
        out = _run_both(spark, "c_dup", turns, block_size)
        text = dict(zip(out["span_id"], out["text"]))
        assert text["2.2"] == (
            "Using the result of 2.1 we get y.\n\n"
            "[Context 2.1] Solution. Second version."
        )
        assert text["3.2"] == (
            "By 3.1 we get w.\n\n[Context 3.1] Solution. Late z."
        )
        assert out["had_reference"].sum() == 2


def test_block_carry_skips_a_block_without_an_id(spark):
    # block_size=3: block 0 (turns 0-2) ends on an id-less part, so its
    # carry is its last NON-NULL id, 7.4; blocks 1 and 2 hold only id-less
    # parts, so block 2's carry comes from two blocks back
    turns = [
        (0, "4.1 Stem one.\nSolution. A one."),
        (1, "6.3 Stem three.\nSolution. A three.\n"
            "7.4 Stem four.\nSolution. A four."),
        (2, "(a) Part a.\nSolution. A."),
        (3, "(b) Part b.\nSolution. B."),
        (4, "(c) Part c.\nSolution. C."),
        (5, "(d) Part d.\nSolution. D."),
        (6, "(e) Part e.\nSolution. E."),
        (7, "(f) Part f.\nSolution. F."),
    ]
    out = _run_both(spark, "c_carry", turns, block_size=3)
    assert sorted(zip(out["turn_idx"], out["span_id"])) == [
        (0, "4.1"), (1, "6.3"), (1, "7.4"), (2, "7.4a"),
        (3, "7.4b"), (4, "7.4c"), (5, "7.4d"), (6, "7.4e"), (7, "7.4f"),
    ]
