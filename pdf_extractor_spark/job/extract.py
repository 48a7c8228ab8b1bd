"""The distributed extraction pipeline (Spark-native).

Semantic contract = pdf_extractor_spark.core (the oracle); physical plan =
idiomatic Spark per SURVEY.md §3.1 rebuild lifecycle:

  scan → mapInPandas(parse, Arrow batches)          [narrow, no shuffle]
      → salted block id fill + _stitch(conv, blk)    [1 shuffle on (conv, blk)]
      → _stitch(conv) over edge spans only           [tiny second pass]
      → bounded-fixpoint reference resolution        [3 left joins]
      → prefix strip + sort keys → output

``_stitch`` is the one stitch operator (lag-window gaps-and-islands link,
then a native groupBy fold): level 1 feeds it one-fragment spans, level 2
the block-local spans, so both levels run the identical link and fold.
Every resolve round is the same ``attach`` hop (usable ref → base +
context + target), the final join included.

Skew design (north_rule "partitioning / shuffle / skew handled
explicitly"): the level-1 window partitions by (conv_id, turn_idx div B),
so a 10^6-turn conversation becomes ~turns/B bounded tasks instead of one
straggler; only spans that touch a block edge with an open continuation
flag (≤2 per block) enter the level-2 per-conversation merge, which is
provably equivalent to a global single-pass stitch because (a) merging
across blocks requires turn_start % B == 0, and (b) the span-level fold
composes with the fragment-level fold (continuation fragments always have
empty question text, so append-if-different degenerates to identity).

Reference parity citations live in the core modules; this file only
orchestrates.  Where a stage applies a core rule (the reference detector,
the Solution-prefix strip, the id sort key) it runs the core function
itself over Arrow batches (``pandas_udf``), so the job and the oracle
cannot read one rule two ways.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.core.normalize import (
    _SANITIZE_TABLE,
    strip_solution_prefix,
)
from pdf_extractor_spark.core.parse_turn import parse_turn
from pdf_extractor_spark.core.refs import (
    CONTEXT_CLOSE,
    CONTEXT_OPEN,
    MAX_DEPTH,
    detect_ref,
)
from pdf_extractor_spark.core.structure import parse_qa_id

PARSED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("question_id", T.StringType()),
    T.StructField("part_id", T.StringType()),
    T.StructField("question_latex", T.StringType()),
    T.StructField("answer_latex", T.StringType()),
    T.StructField("continues_next", T.BooleanType()),
    T.StructField("continued_prev", T.BooleanType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("span_id", T.StringType()),
    T.StructField("question_latex", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("turn_start", T.IntegerType()),
    T.StructField("turn_end", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_fragments", T.IntegerType()),
    T.StructField("had_reference", T.BooleanType()),
])

# conversations shorter than the block are untouched by this knob; longer
# ones split into parallel block tasks + a cheap edge merge.  8192 beat
# 65536 by ~30% on a 118k-turn mega-conversation (BENCH.md skew notes).
DEFAULT_BLOCK_SIZE = 8192


# --------------------------------------------------------------------------
# Stage 1 — parse (mapInPandas; the only stage that runs extraction code)
# --------------------------------------------------------------------------

def parse_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in PARSED_SCHEMA.fields]
    for pdf in it:
        rows: list[tuple] = []
        for conv_id, turn_idx, text in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"]
        ):
            kind, parts = parse_turn(text)
            for p in parts:
                rows.append((
                    conv_id, int(turn_idx), p.seq, kind,
                    p.question_id, p.part_id,
                    p.question_latex, p.answer_latex,
                    p.continues_next, p.continued_prev,
                ))
        out = pd.DataFrame(rows, columns=cols)
        if len(out):
            # one vectorized translate pass (≙ sanitize_latex; see the
            # order-equivalence proof at core/normalize.py:_SANITIZE_TABLE)
            for c in ("question_latex", "answer_latex"):
                out[c] = out[c].str.translate(_SANITIZE_TABLE)
        yield out


def parse_transcripts(transcripts: DataFrame) -> DataFrame:
    """Transcript rows (batch or streaming) → PARSED_SCHEMA fragment rows."""
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(transcripts.sparkSession)
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        parse_batches, PARSED_SCHEMA
    )


# --------------------------------------------------------------------------
# Stage 2 — link + stitch (native window / groupBy, two-level for skew)
# --------------------------------------------------------------------------

# a span row: one fragment at level 1, a block-local span at level 2.
# (turn_start, head_seq) leads so array_sort orders by document position.
_SPAN_FIELDS = [
    "turn_start", "head_seq", "kind", "span_id", "question_latex",
    "answer_latex", "turn_end", "n_fragments",
    "head_cont_prev", "tail_cont_next",
]


def _span_window(keys: list[str]) -> Window:
    return Window.partitionBy(*keys).orderBy("turn_start", "head_seq")


def _fold_merged_question(arr: Column) -> Column:
    """Reference merge: append fragment question text only if non-empty and
    different from the accumulated question (pipeline.py:54-57)."""
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.element_at(arr, 1)["question_latex"],
        lambda acc, x: F.when(
            (x["question_latex"] != F.lit(""))
            & (x["question_latex"] != acc),
            F.concat(acc, F.lit(" "), x["question_latex"]),
        ).otherwise(acc),
    )


def _stitch(spans: DataFrame, keys: list[str]) -> DataFrame:
    """The one stitch operator, used at both block levels: a span continues
    its predecessor (in document order within ``keys``) iff its head is
    open, the predecessor's tail is open, and the predecessor ends on the
    previous turn (contract step 2, gaps-and-islands); each chain folds
    into one span (contract step 3) with ``n_fragments`` summed."""
    w = _span_window(keys)
    is_cont = (
        F.col("head_cont_prev")
        & F.coalesce(F.lag("tail_cont_next").over(w), F.lit(False))
        & (F.coalesce(F.lag("turn_end").over(w), F.lit(-999))
           == F.col("turn_start") - 1)
    )
    chained = spans.withColumn(
        "chain_no",
        F.sum(F.when(is_cont, F.lit(0)).otherwise(F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    frags = F.col("frags")
    first = F.element_at(frags, 1)
    last = F.element_at(frags, -1)
    return (
        chained.groupBy(*keys, "chain_no")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*[F.col(c) for c in _SPAN_FIELDS]))
            ).alias("frags")
        )
        .select(
            "conv_id",
            first["turn_start"].alias("turn_idx"),
            first["head_seq"].alias("head_seq"),
            first["kind"].alias("kind"),
            first["span_id"].alias("span_id"),
            _fold_merged_question(frags).alias("question_latex"),
            F.array_join(
                F.transform(frags, lambda x: x["answer_latex"]), "\n\n"
            ).alias("answer_latex"),
            first["turn_start"].alias("turn_start"),
            last["turn_end"].alias("turn_end"),
            F.aggregate(
                frags, F.lit(0), lambda acc, x: acc + x["n_fragments"]
            ).alias("n_fragments"),
            first["head_cont_prev"].alias("head_cont_prev"),
            last["tail_cont_next"].alias("tail_cont_next"),
        )
    )


def _doc_order() -> Column:
    """A span's (turn_start, head_seq) document position as one scalar
    max_by key; head_seq is a within-turn fragment index, far below 1e6."""
    return (
        F.col("turn_start").cast("long") * F.lit(1_000_000) + F.col("head_seq")
    )


def _link_and_stitch_blocks(parsed: DataFrame, block_size: int) -> DataFrame:
    """Level 1: per-(conv, block) id fill, then ``_stitch`` within blocks.
    Each fragment enters as a one-fragment span, so the id fill and the
    stitch share one window spec (one sort)."""
    keys = ["conv_id", "blk"]
    df = parsed.select(
        "conv_id",
        F.floor(F.col("turn_idx") / F.lit(block_size)).cast("int")
        .alias("blk"),
        F.col("turn_idx").alias("turn_start"),
        F.col("turn_idx").alias("turn_end"),
        F.col("seq").alias("head_seq"),
        "kind", "question_id", "part_id", "question_latex", "answer_latex",
        F.lit(1).alias("n_fragments"),
        F.col("continued_prev").alias("head_cont_prev"),
        F.col("continues_next").alias("tail_cont_next"),
    )

    # --- id fill (contract step 1), block-local part -------------------
    qid_ff_local = F.last("question_id", ignorenulls=True).over(
        _span_window(keys).rowsBetween(Window.unboundedPreceding, 0)
    )

    # cross-block carry: last non-null qid of each block, forward-filled
    # over the (tiny) per-conversation block sequence.  One aggregate over
    # every block: max_by skips NULL orderings, so a block without a qid
    # gets a NULL blk_qid.  It plans as a partial+final SortAggregate (the
    # value is a string), so the partial side runs in every scan task and
    # no single task sees a whole conversation (BENCH.md finding 2).
    carry = (
        df.groupBy(*keys)
        .agg(F.max_by(
            "question_id",
            F.when(F.col("question_id").isNotNull(), _doc_order()),
        ).alias("blk_qid"))
        .select(
            *keys,
            F.last("blk_qid", ignorenulls=True).over(
                Window.partitionBy("conv_id").orderBy("blk")
                .rowsBetween(Window.unboundedPreceding, -1)
            ).alias("carry_qid"),
        )
    )

    qid = F.when(
        F.col("question_id").isNull() & F.col("part_id").isNotNull(),
        F.coalesce(qid_ff_local, F.col("carry_qid")),
    ).otherwise(F.col("question_id"))
    # concat is NULL iff the filled id is; one reference to it keeps the
    # id-fill and link windows collapsible into one Window node
    span_id = F.coalesce(
        F.concat(qid, F.coalesce(F.col("part_id"), F.lit(""))),
        F.concat(F.lit("t"), F.col("turn_start").cast("string")),
    )
    df = df.join(carry, keys, "left").withColumn("span_id", span_id)
    return _stitch(df, keys)


def _merge_block_edges(spans: DataFrame, block_size: int) -> DataFrame:
    """Level 2: ``_stitch`` span chains across block edges.  Only spans
    whose open continuation flag touches a block boundary can participate
    (turn_start % B == 0 with an open head, or (turn_end+1) % B == 0 with
    an open tail) — a bounded set, so the per-conversation window here is
    tiny regardless of conversation length."""
    B = F.lit(block_size)
    edge = (
        (F.col("head_cont_prev") & (F.col("turn_start") % B == 0))
        | (F.col("tail_cont_next") & ((F.col("turn_end") + 1) % B == 0))
    )
    return spans.filter(~edge).unionByName(
        _stitch(spans.filter(edge), ["conv_id"])
    )


# --------------------------------------------------------------------------
# Stage 3 — bounded-fixpoint reference resolution (3 left joins)
# --------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def _detect_ref_col(question: pd.Series, answer: pd.Series) -> pd.Series:
    """``core.refs.detect_ref`` over an Arrow batch; NULL in, NULL out."""
    return pd.Series([
        None if q is None or a is None else detect_ref(q, a)
        for q, a in zip(question, answer)
    ], dtype=object)


def _resolve_references(spans: DataFrame) -> DataFrame:
    """Bounded-fixpoint resolution, engineered so the iteration never
    touches the full span table: the loop runs over only (a) spans that
    HAVE a reference and (b) the lookup entries they need.  The lookup is
    the spans semi-joined to the referenced ids, then one partial+final
    ``max_by`` per (conv, span_id) keeps the last occurrence in document
    order — no window ranks the whole table.  At 100 TB the referenced
    fraction is the working set, not the corpus."""
    spans = spans.withColumn(
        "ref_id",
        _detect_ref_col(F.col("question_latex"), F.col("answer_latex")),
    ).localCheckpoint(eager=False)
    with_ref = spans.filter(F.col("ref_id").isNotNull())
    # lookup working set: only ids that are actually referenced, each with
    # its document-order last-wins representative
    needed = with_ref.select(
        "conv_id", F.col("ref_id").alias("span_id")
    ).distinct()
    rep = F.max_by(F.struct("answer_latex", "ref_id"), _doc_order())
    static_lookup = (
        spans.join(needed, ["conv_id", "span_id"], "left_semi")
        .groupBy("conv_id", "span_id")
        .agg(rep.alias("rep"))
        .select("conv_id", "span_id", "rep.answer_latex", "rep.ref_id")
        .localCheckpoint(eager=False)
    )

    # Unrolled fixpoint via lookup-table hops (r2 latency fix).  The core
    # contract (refs.py:63-95) unrolls to
    #     R_k(i) = a_i + ctx(r_i) + L_{k-1}[r_i]      (usable ref)
    #     L_k[sid] = R_k(rep(sid))
    # so MAX_DEPTH-1 hops over the SMALL lookup table followed by ONE
    # join against the span set compute exactly R_MAX_DEPTH — replacing
    # MAX_DEPTH full passes over all referenced spans (each a join +
    # barrier that cost fixed wall at any parallelism: the measured
    # ~2s/round serial tail of BENCH.md finding 9).  A usable ref is
    # non-null, non-self, and present in the lookup — one guard for the
    # hops and the final join, so shorter chains degrade to identity hops.
    def attach(rows: DataFrame, lookup: DataFrame) -> DataFrame:
        """rows (conv_id, span_id, answer_latex, ref_id, ...) and
        L_{k-1} = lookup (conv_id, span_id, resolved) → rows + R_k as
        ``resolved``."""
        tgt = lookup.select(
            F.col("conv_id").alias("t_conv"),
            F.col("span_id").alias("t_sid"),
            F.col("resolved").alias("t_resolved"),
        )
        return (
            rows.join(
                tgt,
                (F.col("conv_id") == F.col("t_conv"))
                & (F.col("ref_id") == F.col("t_sid")),
                "left",
            )
            .withColumn(
                "resolved",
                F.when(
                    F.col("ref_id").isNotNull()
                    & (F.col("ref_id") != F.col("span_id"))
                    & F.col("t_resolved").isNotNull(),
                    F.concat(
                        F.col("answer_latex"),
                        F.lit(CONTEXT_OPEN), F.col("ref_id"),
                        F.lit(CONTEXT_CLOSE), F.col("t_resolved"),
                    ),
                ).otherwise(F.col("answer_latex")),
            )
            .drop("t_conv", "t_sid", "t_resolved")
        )

    lookup = static_lookup.select(
        "conv_id", "span_id", F.col("answer_latex").alias("resolved")
    )
    for _ in range(MAX_DEPTH - 1):
        lookup = attach(static_lookup, lookup) \
            .select("conv_id", "span_id", "resolved")
    with_ref = attach(with_ref, lookup)

    no_ref = spans.filter(F.col("ref_id").isNull()).withColumn(
        "resolved", F.col("answer_latex")
    )
    return no_ref.unionByName(with_ref)


# --------------------------------------------------------------------------
# Stage 4 — sink normalization + ordering keys
# --------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def _strip_prefix_col(answer: pd.Series) -> pd.Series:
    """``core.normalize.strip_solution_prefix`` over an Arrow batch."""
    return pd.Series([
        None if a is None else strip_solution_prefix(a) for a in answer
    ], dtype=object)


def _finalize(spans: DataFrame) -> DataFrame:
    return spans.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "span_id",
        "question_latex",
        _strip_prefix_col(F.col("resolved")).alias("text"),
        F.col("turn_start").cast("int").alias("turn_start"),
        F.col("turn_end").cast("int").alias("turn_end"),
        "kind",
        F.col("n_fragments").cast("int").alias("n_fragments"),
        F.col("ref_id").isNotNull().alias("had_reference"),
    )


_SORT_KEY_SCHEMA = T.StructType([
    T.StructField("sk_chapter", T.DoubleType()),
    T.StructField("sk_question", T.DoubleType()),
    T.StructField("sk_suffix", T.StringType()),
])


@F.pandas_udf(_SORT_KEY_SCHEMA)
def _sort_key_col(ids: pd.Series) -> pd.DataFrame:
    """``core.structure.parse_qa_id`` over an Arrow batch; a NULL id takes
    the (0.0, 0.0, id) fallback."""
    return pd.DataFrame(
        [(0.0, 0.0, None) if i is None else parse_qa_id(i) for i in ids],
        columns=_SORT_KEY_SCHEMA.names,
    )


def sort_key_columns(df: DataFrame, id_col: str = "span_id") -> DataFrame:
    """O1/O2 sort keys ≙ ``core.structure.parse_qa_id`` as the columns
    ``sk_chapter``, ``sk_question`` and ``sk_suffix``."""
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(df.sparkSession)
    key = _sort_key_col(F.col(id_col))
    return df.withColumns({c: key[c] for c in _SORT_KEY_SCHEMA.names})


# --------------------------------------------------------------------------
# Entry
# --------------------------------------------------------------------------

def extract_from_parsed(
    parsed: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """PARSED_SCHEMA fragment rows → spans (stages 2-5: link/stitch,
    edge-merge, resolve, finalize).  This is the batch compactor of the
    two-phase streaming design (streaming/ingest.py): ``stream_parse``
    feeds a parsed table incrementally, and this function — the IDENTICAL
    code the batch path runs — compacts it.  tests/test_streaming.py's
    end-to-end gate asserts stream-parse + this == run_extract row for
    row."""
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(parsed.sparkSession)
    # the stitch consumes `parsed` through TWO exchanges (window,
    # block-carry agg); without materialization each branch re-runs the
    # parse, the most expensive stage (measured 3× with three branches).
    # Eager so AQE's concurrent stage-materialization jobs can't race
    # into duplicate computes.
    parsed = parsed.localCheckpoint(eager=True)
    spans = _link_and_stitch_blocks(parsed, block_size)
    # edge-merge and the resolution loop each consume their input from two
    # branches (filter split / self-join); truncate lineage first so the
    # parse+stitch stages run exactly once instead of once per branch
    spans = spans.localCheckpoint(eager=False)
    spans = _merge_block_edges(spans, block_size)
    spans = _resolve_references(spans)
    out = _finalize(spans)
    return sort_key_columns(out)


def run_extract(
    transcripts: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → spans
    (OUTPUT_SCHEMA + sk_* ordering keys)."""
    return extract_from_parsed(parse_transcripts(transcripts), block_size)
