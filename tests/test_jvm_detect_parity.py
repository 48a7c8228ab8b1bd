"""The job's reference detection, Solution strip, remaining-ref sweep and
sort key must agree with the Python core on every span of a broad
generated corpus plus adversarial literals.  The job runs the core
functions over Arrow batches, so these cases pin that no second regex
engine's reading of a core pattern creeps back in."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.core.refs import detect_ref
from pdf_extractor_spark.job.extract import _detect_ref_col

ADVERSARIAL = [
    ("", ""),
    ("no refs here", "plain text"),
    ("Using the result of 2.7 we proceed.", "done"),
    ("see problem 3.14a for details", ""),
    ("", "from 1.2 then problem 3.4 later"),
    ("problem 9.9 first", "using 1.1 second"),
    ("USING EXERCISE 4.5", "BY 6.7b"),
    ("use 1.2", "nothing"),          # 'use' is not a cue word
    ("fromage 1.2", "x"),            # cue must be a word... (python: 'from' inside?)
    ("version 10.13 of the doc", "see part 2.1"),
    ("as in 8.01c", ""),
    ("x" * 5000 + " by 3.3", ""),
    # Unicode boundaries: Python \s/\d/\b are Unicode-aware; a JVM
    # restatement must carry (?U) or these fork (ADVICE r1)
    ("see problem\u00a02.3", ""),        # NBSP after cue word
    ("using exercise\u20094.2", ""),     # thin space
    ("problem \u0664.\u0665 is cited", ""),  # Arabic-Indic digits
    ("from \u09e7.\u09e8 onward", ""),  # Bengali digits
    ("by 3.4\u00e9xtra", ""),            # \\b before accented letter
    ("problem\u30004.4", ""),            # ideographic space
    # Python \w is [\p{L}\p{N}_] and \s adds U+001C-U+001F: Java's (?U)
    # classes differ on these, so a Java restatement of \b and \s forks
    ("see 1.2e\u0301 then", ""),        # combining acute: not \w in Python
    ("see\x1c1.2", ""),                 # file separator is \s in Python
    ("problem 3.4\u00b2", ""),          # superscript two is \w in Python
    ("by 5.6\u200d", ""),               # ZWJ: not \w in Python
    # Unicode 14 (Python 3.11) vs Unicode 13 (Java 17): U+0870 is a letter
    # and the Tangsa digits U+16AC0-U+16AC9 are Nd only in Python's tables
    ("see 1.2\u0870 then", ""),
    ("by 3.4\u0870", ""),
    ("problem \U00016ac0.\U00016ac1 is cited", ""),
]


def test_jvm_detect_matches_python_core(spark):
    from pdf_extractor_spark.job.extract import run_extract  # noqa: F401
    from pdf_extractor_spark.queries.extraction import transcripts_df
    from pdf_extractor_spark.job import extract as X

    # all stitched spans of a 60-conversation corpus
    tdf = transcripts_df(spark, n_convs=60, seed=99)
    parsed = tdf.select("conv_id", "turn_idx", "text").mapInPandas(
        X.parse_batches, X.PARSED_SCHEMA
    )
    spans = X._merge_block_edges(
        X._link_and_stitch_blocks(parsed, X.DEFAULT_BLOCK_SIZE),
        X.DEFAULT_BLOCK_SIZE,
    )
    rows = spans.select(
        "question_latex", "answer_latex",
        _detect_ref_col(F.col("question_latex"), F.col("answer_latex"))
        .alias("jvm_ref"),
    ).collect()
    assert len(rows) > 100
    for r in rows:
        expected = detect_ref(r.question_latex or "", r.answer_latex or "")
        assert r.jvm_ref == expected, (
            f"JVM={r.jvm_ref!r} py={expected!r} for "
            f"q={r.question_latex[:80]!r} a={r.answer_latex[:80]!r}"
        )


def test_jvm_detect_adversarial_literals(spark):
    df = spark.createDataFrame(
        ADVERSARIAL, schema=T.StructType([
            T.StructField("q", T.StringType()),
            T.StructField("a", T.StringType()),
        ])
    )
    rows = df.select(
        "q", "a", _detect_ref_col(F.col("q"), F.col("a")).alias("jvm_ref")
    ).collect()
    for r in rows:
        assert r.jvm_ref == detect_ref(r.q, r.a), (r.q, r.a, r.jvm_ref)


def test_jvm_strip_prefix_unicode_parity(spark):
    from pdf_extractor_spark.core.normalize import strip_solution_prefix
    from pdf_extractor_spark.job.extract import _strip_prefix_col

    cases = [
        "Solution. foo",
        " Solution. foo",           # NBSP lead (ADVICE r1 repro)
        " \\textbf{Solution.} bar",
        "  Solution.   spaced   ",
        "answer only",
        "trailing ws 　",
        "  ",
        "\x1cSolution. x",           # U+001C-U+001F are Python whitespace
        "Solution. x\x1f",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    rows = df.select("t", _strip_prefix_col(F.col("t")).alias("s")).collect()
    for r in rows:
        assert r.s == strip_solution_prefix(r.t), (r.t, r.s)


# Token soup: cue words, ids and the characters where Java's and Python's
# regex classes part (NBSP, U+001C-U+001F, combining marks, ZWJ, ², case
# folds İ ı ſ and the Kelvin sign, Arabic-Indic digits).
_SOUP_WORDS = [
    "using", "from", "by", "see", "as in", "the result of", "problem",
    "question", "exercise", "part", "Problem", "USING", "Exercise", "BY",
    "pro\u017flem", "\u212aey", "\u0130s", "\u0131f", "the result from",
    "fromage", "Solution.", "\\textbf{Solution.}", "x", "\u00e9",
    "e\u0301", "i\u0307",
]
_SOUP_IDS = [
    "1.2", "3.4a", "10.13", "2.3b", "\u0664.\u0665", "1.2\u00b2",
    "5.6\u200d", "7.8e\u0301", "9.9\u0307", "4.5\u212a", "6.7\u017f",
    "8.0\u0130",
]
_SOUP_SEPS = [
    " ", " ", " ", "", "\u00a0", "\x1c", "\x1d", "\x1e", "\x1f", "\t",
    "\n", "\u2009", "\u200d", "\u0301", ".", ",",
]


def _soup_text(rng) -> str:
    parts = [rng.choice(_SOUP_SEPS)]
    for _ in range(rng.randint(0, 8)):
        parts.append(rng.choice(_SOUP_WORDS if rng.random() < 0.6
                                else _SOUP_IDS))
        parts.append(rng.choice(_SOUP_SEPS))
    return "".join(parts)


def test_jvm_rules_match_core_on_token_soup(spark):
    """Row for row over ~20k seeded (q, a) pairs: the JVM detector, the
    solution strip and the remaining-ref sweep equal detect_ref,
    strip_solution_prefix and the independent Python mirror of the
    sweep (scripts/gen_expected.py)."""
    import os
    import random
    import re
    import sys

    from pdf_extractor_spark.core.normalize import strip_solution_prefix
    from pdf_extractor_spark.job.evaluate import evaluate_spans
    from pdf_extractor_spark.job.extract import _strip_prefix_col

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import gen_expected as G

    rng = random.Random(20261018)
    pairs = [(_soup_text(rng), _soup_text(rng)) for _ in range(20_000)]
    pairs += ADVERSARIAL
    spans = spark.createDataFrame(
        [(str(i), q, a) for i, (q, a) in enumerate(pairs)],
        "span_id string, question_latex string, text string",
    ).select(
        F.lit("c").alias("conv_id"), "span_id", "question_latex", "text",
        F.lit(False).alias("had_reference"),
    )
    rows = evaluate_spans(spans).select(
        F.col("span_id").cast("int").alias("i"),
        _detect_ref_col(F.col("question_latex"), F.col("text")).alias("ref"),
        _strip_prefix_col(F.col("text")).alias("stripped"),
        "has_remaining_refs",
    ).collect()
    assert len(rows) == len(pairs)
    bad = []
    for r in rows:
        q, a = pairs[r.i]
        want = (
            detect_ref(q, a),
            strip_solution_prefix(a),
            re.search(G._REMAINING_REF_PAT, (q + " " + a).lower()) is not None,
        )
        if (r.ref, r.stripped, r.has_remaining_refs) != want:
            bad.append((q, a, (r.ref, r.stripped, r.has_remaining_refs), want))
    assert not bad, f"{len(bad)} forks, first: {bad[:3]!r}"


def test_sort_key_columns_match_parse_qa_id(spark):
    """sort_key_columns equals core.structure.parse_qa_id per row, also on
    ids whose digits are not ASCII (the core's ITEM_RE accepts any Nd)."""
    from pdf_extractor_spark.core.structure import parse_qa_id
    from pdf_extractor_spark.job.extract import sort_key_columns

    ids = [
        "\u0664.\u0665", "\u0664.\u0665b", "1\u0662.3",
        "\U0001d7d9.\U0001d7da", "2.18a", "t12", "x", " 2.18a\u00a0",
    ]
    df = spark.createDataFrame([(i,) for i in ids], "qa_id string")
    rows = sort_key_columns(df, "qa_id").collect()
    for r in rows:
        got = (r.sk_chapter, r.sk_question, r.sk_suffix)
        assert got == parse_qa_id(r.qa_id), (r.qa_id, got)


def test_core_rule_udf_paths_ship_the_package(spark, monkeypatch):
    """The UDF paths that do not pass through parse_transcripts (the
    streaming compactor, the sort_key query) ship the package to the
    Python workers themselves."""
    from pdf_extractor_spark import shipping
    from pdf_extractor_spark.job import extract as X

    calls = []
    real = shipping.ensure_workers

    def record(session):
        calls.append(session)
        real(session)

    monkeypatch.setattr(shipping, "ensure_workers", record)
    ids = spark.createDataFrame([("2.18a",)], "qa_id string")
    X.sort_key_columns(ids, "qa_id")
    assert calls == [ids.sparkSession]

    calls.clear()
    parsed = spark.createDataFrame(
        [("c", 0, 0, "qa", "1.1", None, "q", "a", False, False)],
        X.PARSED_SCHEMA,
    )
    X.extract_from_parsed(parsed)
    assert parsed.sparkSession in calls
