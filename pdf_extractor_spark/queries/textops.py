"""String/regex scalar-function family (SURVEY.md §2.8) + text-analysis
operators for training-data pipelines (language-ID, quality scoring, token
counting, fingerprinting), all over the ``documents`` table.

Reference parity (file:line = /root/reference/src unless noted):

- sanitize_latex   ≙ T1 latex_generator.py:118-129 — the 97-entry ordered
  unicode→LaTeX replacement chain; replacement ORDER is part of semantics,
  so both sides apply the identical sequential chain.
- normalize_latex  ≙ T3 evaluator.py:80-107 — order-sensitive regex chain.
- strip_solution   ≙ T2 latex_generator.py:187-193 — anchored prefix strip.
- ref_scan         ≙ T5 evaluator.py:53-69, 132-148 — the reference-pattern
  regex sweep (regexp_extract_all over the published pattern set).
- fenced_json      ≙ T6 llm_extractor.py:66-75 — fenced-JSON unwrap +
  tolerant field extraction (from_json-null semantics).
- lang_id / quality_score / token_count / fingerprint — the text-analysis
  layer a 100 TB training-data pipeline runs over every document; all pure
  JVM-side expressions (no Python in the hot path).

Both engines receive the SAME expression chain; all Spark regexp_replace
calls are global, so every DuckDB regexp_replace carries the 'g' flag.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.core.normalize import UNICODE_TO_LATEX
from pdf_extractor_spark.queries.base import (
    Q,
    load,
    rhu,
    rhu_sql,
    session_memo,
    sql_escape,
)

# deterministic unicode-math suffix appended to every doc so the sanitize
# chain has real work at any scale
_UNI_SAMPLE = " α ≤ β and Σ λ ∈ ℝ with ∇f ⪰ 0 → ∞"


def _sanitize_col(col: Column) -> Column:
    for uch, cmd in UNICODE_TO_LATEX:
        col = F.replace(col, F.lit(uch), F.lit(cmd))
    return col


def _sanitize_sql_expr(expr: str) -> str:
    for uch, cmd in UNICODE_TO_LATEX:
        expr = f"replace({expr}, '{sql_escape(uch)}', '{sql_escape(cmd)}')"
    return expr


def _sanitize_latex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(F.col("text"), F.lit(_UNI_SAMPLE))
    return d.select("doc_id", _sanitize_col(raw).alias("sanitized"))


_SANITIZE_SQL = f"""
SELECT doc_id,
       {_sanitize_sql_expr("text || '" + sql_escape(_UNI_SAMPLE) + "'")}
       AS sanitized
FROM documents
"""


# T3 — normalize_latex chain (whitespace → brackets → operator spacing)
_NORM_LITERALS = [
    (r"\left(", "("), (r"\right)", ")"),
    (r"\left[", "["), (r"\right]", "]"),
    (r"\left\{", r"\{"), (r"\right\}", r"\}"),
]


def _normalize_latex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit(r"  x \left( a + b \right)  =  "),
        F.col("text"),
        F.lit(r"  -  y  "),
    )
    col = F.regexp_replace(F.trim(raw), r"\s+", " ")
    for lit_from, lit_to in _NORM_LITERALS:
        col = F.replace(col, F.lit(lit_from), F.lit(lit_to))
    col = F.regexp_replace(col, r"\s*=\s*", "=")
    col = F.regexp_replace(col, r"\s*\+\s*", "+")
    col = F.regexp_replace(col, r"\s*-\s*", "-")
    return d.select("doc_id", col.alias("normalized"))


def _normalize_sql() -> str:
    raw = (r"'  x \left( a + b \right)  =  ' || text || '  -  y  '")
    expr = f"regexp_replace(trim({raw}), '\\s+', ' ', 'g')"
    for lit_from, lit_to in _NORM_LITERALS:
        expr = (
            f"replace({expr}, '{sql_escape(lit_from)}', "
            f"'{sql_escape(lit_to)}')"
        )
    expr = f"regexp_replace({expr}, '\\s*=\\s*', '=', 'g')"
    expr = f"regexp_replace({expr}, '\\s*\\+\\s*', '+', 'g')"
    expr = f"regexp_replace({expr}, '\\s*-\\s*', '-', 'g')"
    return f"SELECT doc_id, {expr} AS normalized FROM documents"


# T2 — anchored Solution-prefix strip
def _strip_solution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    prefixed = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(r"\textbf{Solution.} "), F.col("text")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("Solution. "), F.col("text")))
        .otherwise(F.col("text"))
    )
    pat = r"^\s*(\\textbf\{Solution\.\}|Solution\.)\s*"
    return d.select(
        "doc_id",
        F.trim(F.regexp_replace(prefixed, pat, "")).alias("stripped"),
    )


_STRIP_SQL = r"""
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN '\textbf{Solution.} ' || text
           WHEN 1 THEN 'Solution. ' || text
           ELSE text END AS prefixed
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(prefixed,
            '^\s*(\\textbf\{Solution\.\}|Solution\.)\s*', '')) AS stripped
FROM p
"""


# T5 — reference-pattern regex sweep (the evaluator's REF_PATTERNS subset
# that is engine-portable: RE2 ∩ Java, no lookaround/backrefs)
_REF_ALTERNATION = (
    r"(?:theorem\s+\d+|lemma\s+\d+|corollary\s+\d+|proposition\s+\d+"
    r"|exercise\s+\d+\.\d+|problem\s+\d+\.\d+|equation\s+\(\d+\)"
    r"|part\s+\([a-z]\)|section\s+\d+)"
)


def _ref_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    text2 = F.lower(F.concat(
        F.col("text"),
        F.lit(" see Theorem "), (F.col("doc_id") % 7).cast("string"),
        F.lit(" and equation ("), (F.col("doc_id") % 5).cast("string"),
        F.lit(") of problem "), (F.col("doc_id") % 9).cast("string"),
        F.lit("."), (F.col("doc_id") % 4).cast("string"),
    ))
    hits = F.regexp_extract_all(text2, F.lit(_REF_ALTERNATION), 0)
    return d.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_refs"),
        F.array_join(hits, "|").alias("refs_found"),
    )


_REF_SCAN_SQL = f"""
WITH t AS (
  SELECT doc_id,
         lower(text || ' see Theorem ' || (doc_id % 7)::VARCHAR
               || ' and equation (' || (doc_id % 5)::VARCHAR
               || ') of problem ' || (doc_id % 9)::VARCHAR
               || '.' || (doc_id % 4)::VARCHAR) AS text2
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text2, '{_REF_ALTERNATION}'))::BIGINT
         AS n_refs,
       array_to_string(regexp_extract_all(text2, '{_REF_ALTERNATION}'), '|')
         AS refs_found
FROM t
"""


# T6 — fenced JSON unwrap + tolerant field extraction
def _fenced_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    fenced = F.concat(F.lit("```json\n"), F.col("props"), F.lit("\n```"))
    inner = F.trim(
        F.regexp_extract(fenced, r"(?s)```(?:json)?\s*(.*?)```", 1)
    )
    return e.select(
        "event_id",
        inner.alias("inner_json"),
        F.get_json_object(inner, "$.k").cast("bigint").alias("k_value"),
    )


_FENCED_SQL = r"""
WITH f AS (
  SELECT event_id, '```json' || chr(10) || props || chr(10) || '```' AS fenced
  FROM events
), x AS (
  SELECT event_id,
         trim(regexp_extract(fenced, '(?s)```(?:json)?\s*(.*?)```', 1))
           AS inner_json
  FROM f
)
SELECT event_id, inner_json,
       CAST(json_extract_string(inner_json, '$.k') AS BIGINT) AS k_value
FROM x
"""


# O4 — display truncation
def _truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring("text", 1, 120).alias("preview"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        (F.length("text") > 120).alias("truncated"),
    )


_TRUNCATE_SQL = """
SELECT doc_id, substr(text, 1, 120) AS preview,
       length(text)::BIGINT AS n_chars_actual,
       length(text) > 120 AS truncated
FROM documents
"""


# ---------------------------------------------------------- text analysis

# marker words for the n-gram/stopword language heuristic (the synthetic
# corpus vocabulary makes 'the'/'a' the function-word analogs)
_EN_MARKERS = ("the", "a", "of", "and", "is", "to", "in")


def langid_cols() -> dict:
    """Named language-ID Columns over a ``text`` column — shared by the
    lang_id query and the curation job (one semantics, two drivers)."""
    tokens = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    markers = F.filter(
        tokens, lambda t: t.isin(*_EN_MARKERS)
    )
    n_tok = F.size(tokens)
    ratio = F.when(
        n_tok > 0,
        rhu(F.size(markers).cast("double") / n_tok.cast("double"), 4),
    ).otherwise(0.0)
    return {
        "n_tokens": n_tok.cast("bigint"),
        "marker_ratio": ratio,
        "pred_lang": F.when(ratio >= 0.05, "en").otherwise("other"),
    }


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = langid_cols()
    return d.select(
        "doc_id",
        "lang",
        c["n_tokens"].alias("n_tokens"),
        c["marker_ratio"].alias("marker_ratio"),
        c["pred_lang"].alias("pred_lang"),
    )


_MARKER_LIST = ", ".join(f"'{m}'" for m in _EN_MARKERS)

_LANG_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '')
           AS tokens
  FROM documents
), m AS (
  SELECT doc_id, lang, len(tokens) AS n_tokens,
         len(list_filter(tokens, x -> x IN ({_MARKER_LIST}))) AS n_markers
  FROM t
)
SELECT doc_id, lang, n_tokens::BIGINT AS n_tokens,
       CASE WHEN n_tokens > 0
            THEN (floor((n_markers::DOUBLE / n_tokens::DOUBLE) * 10000.0 + 0.5) / 10000.0)
            ELSE 0.0 END AS marker_ratio,
       CASE WHEN n_tokens > 0
             AND (floor((n_markers::DOUBLE / n_tokens::DOUBLE) * 10000.0 + 0.5) / 10000.0) >= 0.05
            THEN 'en' ELSE 'other' END AS pred_lang
FROM m
"""


def quality_cols() -> dict:
    """Named quality-score Columns over a ``text`` column — shared by
    the quality_score query and the curation job."""
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    n_tok = F.size(tokens).cast("double")
    n_chars = F.length("text").cast("double")
    mean_tok_len = F.when(
        n_tok > 0,
        rhu((n_chars - (n_tok - 1)) / n_tok, 4),
    ).otherwise(0.0)
    len_score = F.least(n_chars / 400.0, F.lit(1.0))
    score = rhu(
        0.5 * len_score
        + 0.5 * F.least(mean_tok_len / 8.0, F.lit(1.0)),
        4,
    )
    # NULL text must score 0, not slip through: least() IGNORES a NULL
    # operand, so a NULL n_chars would make len_score a perfect 1.0 and
    # the doc would pass a >= 0.5 curation gate with no content at all
    score = F.when(F.col("text").isNull(), F.lit(0.0)).otherwise(score)
    return {
        "n_tokens": F.size(tokens).cast("bigint"),
        "n_chars": n_chars.cast("bigint"),
        "mean_token_len": mean_tok_len,
        "quality_score": score,
    }


def _quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = quality_cols()
    return d.select(
        "doc_id",
        c["n_tokens"].alias("n_tokens"),
        c["n_chars"].alias("n_chars"),
        c["mean_token_len"].alias("mean_token_len"),
        c["quality_score"].alias("quality_score"),
    )


_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, length(text)::DOUBLE AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
           AS n_tok
  FROM documents
), m AS (
  SELECT doc_id, n_chars, n_tok,
         CASE WHEN n_tok > 0
              THEN (floor(((n_chars - (n_tok - 1)) / n_tok) * 10000.0 + 0.5)
                    / 10000.0)
              ELSE 0.0 END AS mean_token_len
  FROM t
)
SELECT doc_id,
       n_tok::BIGINT   AS n_tokens,
       n_chars::BIGINT AS n_chars,
       mean_token_len,
       CASE WHEN n_chars IS NULL THEN 0.0   -- NULL text scores 0 (see
            -- quality_cols: least() would ignore the NULL and pass it)
            ELSE (floor((0.5 * least(n_chars / 400.0, 1.0)
                    + 0.5 * least(mean_token_len / 8.0, 1.0)) * 10000.0
                   + 0.5) / 10000.0)
       END AS quality_score
FROM m
"""


# ----------------------------------------------- curriculum quality bins

_BIN_FIT_SAMPLE = 256
_BIN_PCTS = (0.25, 0.50, 0.75)

def _bin_thresholds(spark: SparkSession, sf_dir: str) -> list[float]:
    """Quartile thresholds of ``quality_score`` from a deterministic
    hash-bounded sample — the same fit pattern as the IVF quantizer
    (queries/similarity.py:_fitted_centroids).

    Exact global quantiles need a full sort (and ``ntile`` would pile
    the whole corpus onto ONE window task); at 100 TB both are
    scale-killers for what is a 3-number estimate.  Instead:
    ``orderBy(md5(id), id).limit(n)`` is a TakeOrdered — O(n) heap per
    partition, exactly ``n`` rows ever reach the driver at ANY corpus
    size — and the thresholds are exact percentile_disc quantiles OF THE
    SAMPLE (1-based rank ``ceil(p·n)`` of the ascending scores).  The
    oracle SQL re-derives the same sample and ranks independently, so
    the fit spec itself is hash-gated.  The fit is deterministic;
    memoizing it per session only saves the repeated sample scan."""
    return session_memo(
        spark, ("bin_thresholds", sf_dir),
        lambda: _fit_bin_thresholds(load(spark, sf_dir, "documents")),
    )


def _fit_bin_thresholds(d: DataFrame) -> list[float]:
    import math

    rows = (
        d.select(
            quality_cols()["quality_score"].alias("s"),
            F.md5(F.col("doc_id").cast("string")).alias("hk"),
            "doc_id",
        )
        .orderBy("hk", "doc_id")
        .limit(_BIN_FIT_SAMPLE)
        .collect()
    )
    scores = sorted(float(r.s) for r in rows)
    n = len(scores)
    return [
        scores[max(0, math.ceil(p * n) - 1)] if n else 0.0
        for p in _BIN_PCTS
    ]


def _quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: every document labeled with its quality
    quartile (1 = worst .. 4 = best) — the stratification step a
    data-curriculum or quality-mixing recipe runs before sampling.

    Bins are VALUE-defined (score ≤ t_p), not rank-defined: equal scores
    always land in the same bin regardless of partitioning, and the
    per-row pass is a narrow projection against three broadcast literal
    thresholds — zero exchanges, zero windows (plan-gated)."""
    t1, t2, t3 = _bin_thresholds(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    s = quality_cols()["quality_score"]
    bin_col = (
        F.when(s <= t1, F.lit(1))
        .when(s <= t2, F.lit(2))
        .when(s <= t3, F.lit(3))
        .otherwise(F.lit(4))
        .cast("bigint")
    )
    return d.select(
        "doc_id", s.alias("quality_score"), bin_col.alias("bin")
    )


_QBINS_SQL = f"""
WITH q AS (
  SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) base
),
samp AS (
  SELECT quality_score AS s
  FROM q
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_BIN_FIT_SAMPLE}
),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s) AS rn,
         count(*) OVER () AS n
  FROM samp
),
th AS (
  SELECT
    max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN s END) AS t1,
    max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN s END) AS t2,
    max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN s END) AS t3
  FROM ranked
)
SELECT doc_id, quality_score,
       CAST(CASE WHEN quality_score <= t1 THEN 1
                 WHEN quality_score <= t2 THEN 2
                 WHEN quality_score <= t3 THEN 3
                 ELSE 4 END AS BIGINT) AS bin
FROM q, th
"""


_BPE_ISH = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_ISH), 0))
    return d.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_tokens"),
    )


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         ::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_ISH}'))::BIGINT AS bpe_tokens
FROM documents
"""


# Real learned-merges BPE (core/bpe.py spec): the regex class above is a
# cheap upper-bound proxy; budgets that feed training decisions
# (pack_sequences, job/curate.py's audit) need the real encode.  The
# ~5 KB checked-in merges table rides to executors inside the task
# closure (broadcast-small-dim pattern — the package zip ships only .py
# files, so workers can't read the artifact path), and the encode is a
# narrow Arrow-batched map with a per-task pretoken memo: no shuffle,
# O(distinct pretokens) hot cost under Zipfian text.  Oracle: checked-in
# expected parquet serialized by the INDEPENDENT mirror encoder
# (oracle_mirror/bpe.py via scripts/gen_expected.py), so the two
# implementations gate each other.
_BPE_SCHEMA = "doc_id bigint, n_tokens bigint, token_checksum string"
_BPE_PINNED_SF = "/root/testdata/sf0.01"


def _bpe_batches(merges: list[tuple[str, str]]):
    def gen(batches):
        import pandas as pd

        from pdf_extractor_spark.core.bpe import (
            make_encoder,
            token_checksum,
        )

        enc = make_encoder(merges)
        for pdf in batches:
            counts, sums = [], []
            for text in pdf["text"]:
                toks = enc(text if isinstance(text, str) else None)
                counts.append(len(toks))
                sums.append(token_checksum(toks))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_tokens": counts,
                "token_checksum": sums,
            })
    return gen


def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_extractor_spark.core.bpe import load_merges
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(spark)
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_bpe_batches(load_merges()), _BPE_SCHEMA)


def bpe_token_udf(merges: list[tuple[str, str]]):
    """Scalar Arrow-batched token COUNT over the same encode —
    composes into an existing projection (job/curate.py's gated
    select) without a second pass."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    def n_bpe_tokens(texts: pandas.Series) -> pandas.Series:
        from pdf_extractor_spark.core.bpe import make_encoder

        enc = make_encoder(merges)
        return texts.map(
            lambda t: len(enc(t if isinstance(t, str) else None))
        )

    # explicit __annotations__ (real types, not strings): textops has
    # `from __future__ import annotations`, under which pyspark's
    # typehint inference can't resolve a closure-local alias
    n_bpe_tokens.__annotations__ = {
        "texts": pandas.Series, "return": pandas.Series,
    }
    return pandas_udf(n_bpe_tokens, "long")


def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower("text"), r"[^a-z0-9]+", "")
    return d.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("bigint").alias("n_canon_chars"),
    )


_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
         AS fingerprint,
       length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))::BIGINT
         AS n_canon_chars
FROM documents
"""


# T11 — base64 payload envelope round-trip (≙ the embedded PDF-stream
# transport, core/parse_turn.py [PDF-STREAM] framing; models/anthropic.py
# :23-34 wire encoding)
def _base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Spark MIME-chunks base64 output with CRLF every 76 chars; strip to
    # the canonical unwrapped form DuckDB produces
    payload = F.regexp_replace(
        F.base64(F.encode("text", "UTF-8")), "[\r\n]", ""
    )
    framed = F.concat(
        F.lit("[PDF-STREAM v1]\n"), payload, F.lit("\n[/PDF-STREAM]")
    )
    inner = F.regexp_extract(
        framed, r"(?s)\[PDF-STREAM v1\]\s*(.*?)\s*\[/PDF-STREAM\]", 1
    )
    decoded = F.decode(F.unbase64(inner), "UTF-8")
    return d.select(
        "doc_id",
        F.length(framed).cast("bigint").alias("framed_len"),
        (decoded == F.col("text")).alias("roundtrip_ok"),
        F.md5(decoded).alias("decoded_hash"),
    )


_BASE64_SQL = r"""
WITH f AS (
  SELECT doc_id, text,
         '[PDF-STREAM v1]' || chr(10) || to_base64(encode(text))
           || chr(10) || '[/PDF-STREAM]' AS framed
  FROM documents
), x AS (
  SELECT doc_id, text, framed,
         regexp_extract(framed,
            '(?s)\[PDF-STREAM v1\]\s*(.*?)\s*\[/PDF-STREAM\]', 1) AS inner_b64
  FROM f
)
SELECT doc_id,
       length(framed)::BIGINT AS framed_len,
       (decode(from_base64(inner_b64)) = text) AS roundtrip_ok,
       md5(decode(from_base64(inner_b64))) AS decoded_hash
FROM x
"""


# S8/S13 — JSON sink/source round-trip: struct → to_json → from_json with
# tolerant-null semantics (llm_extractor.py:103-106 degrade path)
def _json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # integer cents, not a double: Java and DuckDB format small doubles
    # differently inside JSON (1.0E-4 vs 0.0001)
    doc = F.to_json(F.struct(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("type"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents"),
    ))
    # corrupt every 10th payload → from_json must null, not raise
    # (corruption leads the string: Spark's PERMISSIVE parser tolerates
    # trailing garbage but not a broken head)
    corrupted = F.when(
        F.col("event_id") % 10 == 0, F.concat(F.lit("{broken "), doc)
    ).otherwise(doc)
    parsed = F.from_json(
        corrupted, "struct<id:bigint,type:string,value:double>"
    )
    return e.select(
        "event_id",
        corrupted.alias("json_doc"),
        parsed["id"].alias("parsed_id"),
        parsed["type"].alias("parsed_type"),
        parsed["id"].isNull().alias("degraded"),
    )


_JSON_ROUNDTRIP_SQL = r"""
WITH j AS (
  SELECT event_id,
         '{"id":' || event_id::VARCHAR
           || ',"type":"' || event_type
           || '","value_cents":' || CAST(floor(value * 100 + 0.5) AS BIGINT)::VARCHAR
           || '}' AS doc
  FROM events
), c AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN '{broken ' || doc ELSE doc END
           AS json_doc
  FROM j
)
SELECT event_id, json_doc,
       CASE WHEN json_valid(json_doc)
            THEN CAST(json_extract_string(json_doc, '$.id') AS BIGINT)
       END AS parsed_id,
       CASE WHEN json_valid(json_doc)
            THEN json_extract_string(json_doc, '$.type')
       END AS parsed_type,
       NOT json_valid(json_doc) AS degraded
FROM c
"""


# F5/F6/F7 — review-candidate selection: failed docs ∪ deterministic
# hash sample (random.sample ≙ md5-keyed 5% — seedable and engine-portable)
def _review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    failed = F.col("n_chars") < 150
    sampled = (
        F.conv(F.substring(F.md5(F.concat(F.lit("rev|"),
                                          F.col("doc_id").cast("string"))),
                           1, 4), 16, 10).cast("bigint") % 20 == 0
    )
    return (
        d.filter(failed | sampled)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            failed.alias("is_failed"),
            sampled.alias("is_sampled"),
        )
    )


_REVIEW_SAMPLE_SQL = """
SELECT doc_id, lang, n_chars::BIGINT AS n_chars,
       (n_chars < 150) AS is_failed,
       (CAST(('0x' || substr(md5('rev|' || doc_id::VARCHAR), 1, 4)) AS BIGINT)
        % 20 = 0) AS is_sampled
FROM documents
WHERE n_chars < 150
   OR CAST(('0x' || substr(md5('rev|' || doc_id::VARCHAR), 1, 4)) AS BIGINT)
      % 20 = 0
"""


# Curation routing — the decision semantics of job/curate.py as one
# declarative query, so the gate composition itself is hash-checked
# against an independent DuckDB oracle (the job's store-backed near-dup
# gate is stateful and stays pytest-proven; everything SQL-expressible
# is gated here).  Gate order fixes reason attribution: a short
# non-English duplicate reports low_quality.
#
# Scale shape: the quality/lang expressions are per-row JVM codegen (no
# shuffle); the exact-dup gate shuffles ONLY (doc_id, md5, score, lang)
# — text is dropped before the exchange, so the wide column never moves.
CURATE_MIN_QUALITY = 0.5


def _curation_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    q = quality_cols()
    lid = langid_cols()
    narrow = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5("text").alias("text_md5"),
        q["quality_score"].alias("quality_score"),
        lid["pred_lang"].alias("pred_lang"),
    )
    survivor = (
        (F.col("quality_score") >= CURATE_MIN_QUALITY)
        & (F.col("pred_lang") == "en")
    )
    # min ignores NULLs on both engines → first surviving doc_id per
    # identical text; a survivor's own id is always in the min's domain
    first_id = F.min(F.when(survivor, F.col("doc_id"))).over(
        Window.partitionBy("text_md5")
    )
    routed = narrow.withColumn("first_id", first_id)
    reason = (
        F.when(F.col("quality_score") < CURATE_MIN_QUALITY,
               "low_quality")
        .when(F.col("pred_lang") != "en", "wrong_lang")
        .when(F.col("doc_id") > F.col("first_id"), "exact_dup")
        .otherwise("accepted")
    )
    return routed.select(
        "doc_id",
        F.when(reason == "accepted", "accepted")
         .otherwise("rejected").alias("verdict"),
        reason.alias("reason"),
        "quality_score",
        "pred_lang",
        F.when(reason == "exact_dup", F.col("first_id"))
         .cast("bigint").alias("matched_doc_id"),
    )


# Mirrors _QUALITY_SQL / _LANG_SQL expression-for-expression, then the
# first-survivor-wins window over md5(text).
_CURATION_ROUTE_SQL = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, md5(text) AS text_md5,
         length(text)::DOUBLE AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
           AS n_tok,
         list_filter(string_split(lower(text), ' '), x -> x <> '')
           AS ltokens
  FROM documents
), m AS (
  SELECT doc_id, text_md5, n_chars, n_tok,
         CASE WHEN n_tok > 0
              THEN (floor(((n_chars - (n_tok - 1)) / n_tok) * 10000.0 + 0.5)
                    / 10000.0)
              ELSE 0.0 END AS mean_token_len,
         len(ltokens) AS ln_tok,
         len(list_filter(ltokens, x -> x IN ({_MARKER_LIST}))) AS n_markers
  FROM t
), s AS (
  SELECT doc_id, text_md5,
         CASE WHEN n_chars IS NULL THEN 0.0  -- NULL text scores 0
              ELSE (floor((0.5 * least(n_chars / 400.0, 1.0)
                      + 0.5 * least(mean_token_len / 8.0, 1.0)) * 10000.0
                     + 0.5) / 10000.0)
         END AS quality_score,
         CASE WHEN ln_tok > 0
               AND (floor((n_markers::DOUBLE / ln_tok::DOUBLE) * 10000.0
                          + 0.5) / 10000.0) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM m
), f AS (
  SELECT doc_id, quality_score, pred_lang,
         min(CASE WHEN quality_score >= 0.5 AND pred_lang = 'en'
                  THEN doc_id END)
           OVER (PARTITION BY text_md5) AS first_id
  FROM s
), r AS (
  SELECT doc_id, quality_score, pred_lang, first_id,
         CASE WHEN quality_score < 0.5 THEN 'low_quality'
              WHEN pred_lang <> 'en' THEN 'wrong_lang'
              WHEN doc_id > first_id THEN 'exact_dup'
              ELSE 'accepted' END AS reason
  FROM f
)
SELECT doc_id,
       CASE WHEN reason = 'accepted' THEN 'accepted'
            ELSE 'rejected' END AS verdict,
       reason, quality_score, pred_lang,
       (CASE WHEN reason = 'exact_dup' THEN first_id END)::BIGINT
         AS matched_doc_id
FROM r
"""


# Repetition statistics (Gopher-style quality filter, word-level: the
# corpus has no newlines, so the line-based variants degenerate).  The
# per-(doc, term) counts go through explode → two-level agg rather than a
# per-row O(n²) higher-order-function scan: the shuffle key is
# (doc_id, word), so partial aggregation collapses each doc's repeats
# map-side and per-key fan-in is bounded by a single document's vocabulary
# — the shape that survives million-token documents at 100 TB.
_REP_TOP_BIGRAM_MAX = 0.18   # Gopher's top-2-gram duplicate threshold
_REP_DISTINCT_MIN = 0.30


def _repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    t = d.select("doc_id", tokens.alias("tokens"))

    words = t.select("doc_id", F.explode("tokens").alias("word"))
    ws = (
        words.groupBy("doc_id", "word").count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_word_n"),
            F.sum("count").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    bigrams = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("tokens", 1, F.size("tokens") - 1),
                F.slice("tokens", 2, F.size("tokens") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    bs = (
        bigrams.groupBy("doc_id", "bg").count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_bigram_n"),
            F.sum("count").alias("n_bigrams"),
        )
    )
    j = d.select("doc_id").join(ws, "doc_id", "left") \
        .join(bs, "doc_id", "left")
    top_word_frac = F.when(
        F.col("n_tok") > 0,
        rhu(F.col("top_word_n").cast("double")
            / F.col("n_tok").cast("double"), 4),
    ).otherwise(0.0)
    top_bigram_frac = F.when(
        F.col("n_bigrams") > 0,
        rhu(F.col("top_bigram_n").cast("double")
            / F.col("n_bigrams").cast("double"), 4),
    ).otherwise(0.0)
    distinct_ratio = F.when(
        F.col("n_tok") > 0,
        rhu(F.col("n_distinct").cast("double")
            / F.col("n_tok").cast("double"), 4),
    ).otherwise(0.0)
    return j.select(
        "doc_id",
        F.coalesce(F.col("n_tok"), F.lit(0)).cast("bigint")
         .alias("n_tokens"),
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        distinct_ratio.alias("distinct_ratio"),
        (
            (top_bigram_frac >= _REP_TOP_BIGRAM_MAX)
            | ((F.coalesce(F.col("n_tok"), F.lit(0)) > 0)
               & (distinct_ratio <= _REP_DISTINCT_MIN))
        ).alias("is_repetitive"),
    )


_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
           AS tokens
  FROM documents
), w AS (
  SELECT doc_id, unnest(tokens) AS word FROM t
), wc AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
), ws AS (
  SELECT doc_id, max(c) AS top_word_n, sum(c) AS n_tok,
         count(*) AS n_distinct
  FROM wc GROUP BY doc_id
), bgs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens)),
                               i -> tokens[i] || ' ' || tokens[i + 1]))
           AS bg
  FROM t
), bc AS (
  SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY doc_id, bg
), bs AS (
  SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
  FROM bc GROUP BY doc_id
), j AS (
  SELECT d.doc_id,
         coalesce(ws.n_tok, 0) AS n_tok,
         ws.top_word_n, ws.n_distinct,
         coalesce(bs.n_bigrams, 0) AS n_bigrams, bs.top_bigram_n
  FROM documents d
  LEFT JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id)
), f AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok > 0
              THEN floor((top_word_n::DOUBLE / n_tok::DOUBLE) * 10000.0
                         + 0.5) / 10000.0
              ELSE 0.0 END AS top_word_frac,
         CASE WHEN n_bigrams > 0
              THEN floor((top_bigram_n::DOUBLE / n_bigrams::DOUBLE)
                         * 10000.0 + 0.5) / 10000.0
              ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN n_tok > 0
              THEN floor((n_distinct::DOUBLE / n_tok::DOUBLE) * 10000.0
                         + 0.5) / 10000.0
              ELSE 0.0 END AS distinct_ratio
  FROM j
)
SELECT doc_id, n_tok::BIGINT AS n_tokens,
       top_word_frac, top_bigram_frac, distinct_ratio,
       (top_bigram_frac >= {_REP_TOP_BIGRAM_MAX}
        OR (n_tok > 0 AND distinct_ratio <= {_REP_DISTINCT_MIN}))
         AS is_repetitive
FROM f
"""


# Weighted source-mixture sampling — the training-mix op: each source
# contributes at its own rate, selection is md5-keyed so the SAME docs
# are picked on every run and every engine (a seeded `rand()` is
# partition-dependent in Spark).  Fully narrow: scan + filter, no
# shuffle, no collect — the mixture of a 100 TB corpus costs one pass.
# A production rate table would come from a mixture config (broadcast
# join); here the rate derives deterministically from the source id so
# the query is self-contained.
def _mix_rate(source_col):
    return 5 + (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix|"), source_col)),
                           1, 4), 16, 10).cast("bigint") % 96
    )


def _source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    rate = _mix_rate(F.col("source"))
    key = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mixdoc|"),
                                          F.col("doc_id").cast("string"))),
                           1, 4), 16, 10).cast("bigint") % 100
    )
    return (
        d.withColumn("rate_pct", rate.cast("bigint"))
        .withColumn("sample_key", key)
        .filter(F.col("sample_key") < F.col("rate_pct"))
        .select("doc_id", "source", "rate_pct", "sample_key")
    )


_SOURCE_MIX_SQL = """
WITH r AS (
  SELECT doc_id, source,
         5 + (CAST(('0x' || substr(md5('mix|' || source), 1, 4)) AS BIGINT)
              % 96) AS rate_pct,
         CAST(('0x' || substr(md5('mixdoc|' || doc_id::VARCHAR), 1, 4))
              AS BIGINT) % 100 AS sample_key
  FROM documents
)
SELECT doc_id, source, rate_pct::BIGINT AS rate_pct, sample_key
FROM r WHERE sample_key < rate_pct
"""


# Token-budget sequence packing — assign documents to fixed-budget
# training sequences: within each (source, block) stream, docs are taken
# in doc_id order and a doc starts the next sequence once the running
# token count crosses the budget.  The window partitions on
# (source, block) where block is an md5-derived shard: a per-source-only
# window would serialize each source's entire 100 TB shard through one
# task; 64-way blocking bounds every window partition while keeping the
# assignment deterministic (same doc → same block → same seq_no at any
# parallelism).  Token counts are the REAL learned-merges BPE encode
# (bpe_token_udf — the same broadcast merges table job/curate.py
# budgets with), not the BPE-ish regex: a packing plan built on one
# tokenizer and trained on another silently over/under-fills every
# sequence.  The oracle takes per-doc counts from the independent
# mirror encoder's checked-in parquet (expected/bpe_encode.parquet) and
# restates the window arithmetic itself in DuckDB.
_PACK_BUDGET = 512
_PACK_BLOCKS = 64


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pdf_extractor_spark.core.bpe import load_merges
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(spark)
    d = load(spark, sf_dir, "documents")
    tok = bpe_token_udf(load_merges())(F.col("text"))
    block = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pack|"),
                                          F.col("doc_id").cast("string"))),
                           1, 4), 16, 10).cast("bigint") % _PACK_BLOCKS
    )
    base = d.select(
        "doc_id", "source",
        block.alias("block"),
        tok.alias("bpe_tokens"),
    )
    w = (
        Window.partitionBy("source", "block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("bpe_tokens").over(w)
    return base.select(
        "doc_id", "source", "block", "bpe_tokens",
        cum.cast("bigint").alias("cum_tokens"),
        F.floor((cum - F.col("bpe_tokens")) / F.lit(_PACK_BUDGET))
         .cast("bigint").alias("seq_no"),
    )


_PACK_SQL = f"""
WITH b AS (
  SELECT d.doc_id, d.source,
         CAST(('0x' || substr(md5('pack|' || d.doc_id::VARCHAR), 1, 4))
              AS BIGINT) % {_PACK_BLOCKS} AS block,
         t.n_tokens::BIGINT AS bpe_tokens
  FROM documents d
  JOIN read_parquet('/root/repo/expected/bpe_encode.parquet') t
    ON t.doc_id = d.doc_id
), w AS (
  SELECT doc_id, source, block, bpe_tokens,
         sum(bpe_tokens) OVER (
           PARTITION BY source, block ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM b
)
SELECT doc_id, source, block, bpe_tokens,
       cum_tokens::BIGINT AS cum_tokens,
       CAST(floor((cum_tokens - bpe_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
         AS seq_no
FROM w
"""


# ----------------------------------------------- boilerplate line removal

# C4-style line-level boilerplate stripping: lines that repeat across
# more than _BOILER_MAX_DF documents (nav bars, footers, cookie banners)
# are removed from every document, preserving the order of what remains.
# The synthetic docs are single-line, so both sides first derive the SAME
# multi-line corpus: 8-word chunks plus deterministically injected
# boilerplate (a universal footer, a %3 rights line, and a %50 offer line
# that stays BELOW the threshold — the gate must discriminate, not nuke).
_BOILER_WORDS = 8
_BOILER_MAX_DF = 20
_BOILER_FOOTER = "subscribe to our newsletter for updates"
_BOILER_RIGHTS = "all rights reserved"
_BOILER_OFFER = "special offer just for you"


def _strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-frequency boilerplate removal with ordered reassembly.

    Scale shape: line document-frequency is a map-side-combining
    groupBy(line) count — the hot boilerplate keys partial-aggregate on
    the mappers, so no single reducer sees every copy of a universal
    footer.  The surviving hot-line list is tiny by pigeonhole (at most
    total_lines / threshold distinct values, and real thresholds scale
    with corpus size), so the removal flag is a BROADCAST join — the
    corpus lines never shuffle.  Reassembly groups per doc (bounded
    state: one document's own lines) and sorts by position inside the
    aggregation buffer."""
    d = load(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    n_base = F.ceil(
        F.size(tokens).cast("double") / F.lit(float(_BOILER_WORDS))
    ).cast("int")
    idx = F.when(
        F.size(tokens) > 0, F.sequence(F.lit(0), n_base - 1)
    ).otherwise(F.array().cast("array<int>"))
    base = F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(tokens, i * _BOILER_WORDS + 1, _BOILER_WORDS), " "
        ),
    )
    empty = F.array().cast("array<string>")
    all_lines = F.concat(
        base,
        F.array(F.lit(_BOILER_FOOTER)),
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit(_BOILER_RIGHTS)))
        .otherwise(empty),
        F.when(F.col("doc_id") % 50 == 0, F.array(F.lit(_BOILER_OFFER)))
        .otherwise(empty),
    )
    lines = d.select(
        "doc_id", F.posexplode(all_lines).alias("i", "line")
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") > _BOILER_MAX_DF)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(hot), "line", "left")
    ls = F.sort_array(F.collect_list(F.struct("i", "line", "is_boiler")))
    agg = flagged.groupBy("doc_id").agg(ls.alias("ls"))
    kept = F.filter(F.col("ls"), lambda s: s["is_boiler"].isNull())
    return agg.select(
        "doc_id",
        F.array_join(
            F.transform(kept, lambda s: s["line"]), "\n"
        ).alias("clean_text"),
        (F.size("ls") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.size("ls").cast("bigint").alias("n_lines"),
    )


_BOILER_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents
),
nb AS (
  SELECT doc_id, tokens,
         CAST(ceil(len(tokens) / {float(_BOILER_WORDS)}) AS BIGINT) AS n_base
  FROM toks
),
base AS (
  SELECT doc_id, i,
         array_to_string(
           tokens[i * {_BOILER_WORDS} + 1 : i * {_BOILER_WORDS}
                  + {_BOILER_WORDS}], ' ') AS line
  FROM nb, unnest(range(n_base)) AS u(i)
),
lines AS (
  SELECT doc_id, i, line FROM base
  UNION ALL
  SELECT doc_id, n_base AS i, '{_BOILER_FOOTER}' AS line FROM nb
  UNION ALL
  SELECT doc_id, n_base + 1, '{_BOILER_RIGHTS}' FROM nb WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, n_base + 2, '{_BOILER_OFFER}' FROM nb WHERE doc_id % 50 = 0
),
hot AS (
  SELECT line FROM lines GROUP BY line HAVING count(*) > {_BOILER_MAX_DF}
),
flagged AS (
  SELECT doc_id, i, line, line IN (SELECT line FROM hot) AS is_boiler
  FROM lines
)
SELECT doc_id,
       coalesce(
         string_agg(CASE WHEN NOT is_boiler THEN line END,
                    chr(10) ORDER BY i), '') AS clean_text,
       CAST(count(*) FILTER (WHERE is_boiler) AS BIGINT) AS n_removed,
       CAST(count(*) AS BIGINT) AS n_lines
FROM flagged GROUP BY doc_id
"""


# ------------------------------------------------- vocabulary construction

# Tokenizer-training prep: global token frequencies + document frequencies,
# top-K by count.  The scale shape is the classic heavy-hitters plan:
# map-side-combining count agg (hot tokens partial-aggregate on the
# mappers), then a global top-K that must plan as TakeOrderedAndProject
# (per-partition heaps + driver merge of K rows) — NEVER a full sort of
# the token-frequency table, which at 100 TB is itself billions of rows.
_VOCAB_K = 50


def _vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    # total tiebreak (count desc, token asc) keeps the K-th boundary
    # deterministic across partitionings and engines
    return counts.orderBy(
        F.desc("n_occurrences"), F.asc("token")
    ).limit(_VOCAB_K)


_VOCAB_SQL = f"""
WITH tok AS (
  SELECT doc_id, token
  FROM (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '')
             AS tokens
    FROM documents
  ), unnest(tokens) AS u(token)
)
SELECT token,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tok GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT {_VOCAB_K}
"""


# --------------------------------------------------------------- PII redaction

# Patterns restricted to the Java-regex ∩ RE2 common subset (character
# classes, bounded repetition, \b, non-capturing groups — no lookaround,
# no backreferences) so Spark and DuckDB compile them identically.
# Replacement ORDER is part of the semantics (emails contain dotted hosts
# an IP pattern could nibble): email → IPv4 → phone on both sides.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}(?:\.\d{1,3}){3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails / IPv4 / phone numbers) with per-doc
    match counts — the scrubbing pass a training-data pipeline runs over
    every document before packing.

    The synthetic corpus carries no organic PII, so both sides first
    append a deterministic doc_id-derived PII suffix (same expression in
    Spark and the oracle SQL) — the redaction regexes then do real work
    on every row at every scale.  Pure JVM expression chain: no shuffle,
    no Python, fully pipelined into the scan (plan-gated)."""
    d = load(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid, F.lit("@example.com via 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"), F.lit(" tel 555-"),
        F.lpad((F.col("doc_id") % 743).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 9973).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(salted, _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4, "<IP>",
        ),
        _PII_PHONE, "<PHONE>",
    )
    return d.select(
        "doc_id",
        clean.alias("clean"),
        F.size(F.regexp_extract_all(salted, F.lit(_PII_EMAIL), 0))
        .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(salted, F.lit(_PII_IPV4), 0))
        .cast("bigint").alias("n_ips"),
        F.size(F.regexp_extract_all(salted, F.lit(_PII_PHONE), 0))
        .cast("bigint").alias("n_phones"),
    )


_PII_SQL = f"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR
              || '@example.com via 10.' || (doc_id % 200)::VARCHAR
              || '.0.' || (doc_id % 250)::VARCHAR
              || ' tel 555-' || lpad((doc_id % 743)::VARCHAR, 3, '0')
              || '-' || lpad((doc_id % 9973)::VARCHAR, 4, '0') AS full_text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(full_text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS clean,
       CAST(len(regexp_extract_all(full_text, '{_PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(full_text, '{_PII_IPV4}')) AS BIGINT)
         AS n_ips,
       CAST(len(regexp_extract_all(full_text, '{_PII_PHONE}')) AS BIGINT)
         AS n_phones
FROM salted
"""


QUERIES: list[Q] = [
    Q("base64_roundtrip", _base64_roundtrip, _BASE64_SQL,
      "T11 base64 PDF-stream envelope encode/extract/decode"),
    Q("json_roundtrip", _json_roundtrip, _JSON_ROUNDTRIP_SQL,
      "S8/S13 JSON sink/source round-trip with tolerant degrade"),
    Q("review_sample", _review_sample, _REVIEW_SAMPLE_SQL,
      "F5/F6 review-candidate filter + deterministic hash sample"),
    Q("sanitize_latex", _sanitize_latex, _SANITIZE_SQL,
      "T1 97-entry ordered unicode→LaTeX chain"),
    Q("normalize_latex", _normalize_latex, _normalize_sql(),
      "T3 order-sensitive normalize chain"),
    Q("strip_solution", _strip_solution, _STRIP_SQL,
      "T2 anchored prefix strip"),
    Q("ref_scan", _ref_scan, _REF_SCAN_SQL,
      "T5 reference-pattern regex sweep"),
    Q("fenced_json", _fenced_json, _FENCED_SQL,
      "T6 fenced-JSON unwrap + tolerant extraction"),
    Q("truncate_preview", _truncate, _TRUNCATE_SQL, "O4 truncation"),
    Q("lang_id", _lang_id, _LANG_SQL,
      "language-ID marker-ratio heuristic"),
    Q("quality_score", _quality_score, _QUALITY_SQL,
      "document quality scoring"),
    Q("quality_bins", _quality_bins, _QBINS_SQL,
      "curriculum quality binning: quartile thresholds fitted on a "
      "deterministic hash-bounded sample (TakeOrdered, driver-side "
      "percentile_disc), applied as broadcast literals in one narrow "
      "pass — no global sort, no ntile window"),
    Q("token_count", _token_count, _TOKEN_COUNT_SQL,
      "whitespace + BPE-ish regex token counting"),
    # sf_pin: the oracle is expected parquet serialized by the mirror
    # encoder over the pinned sf0.01 documents, so Q.run reads the pin
    # (the ann_ivf discipline)
    Q("bpe_encode", _bpe_encode,
      "SELECT * FROM read_parquet('/root/repo/expected/bpe_encode"
      ".parquet')",
      "learned-merges BPE encode (checked-in 512-merge table, "
      "closure-broadcast, Arrow-batched, pretoken-memoized); oracle is "
      "the independent mirror encoder's checked-in output",
      sf_pin=_BPE_PINNED_SF),
    Q("curation_route", _curation_route, _CURATION_ROUTE_SQL,
      "curation decision routing: quality gate -> language gate -> "
      "first-survivor-wins exact dedup, gate-order reason attribution "
      "(declarative mirror of job/curate.py's SQL-expressible gates)"),
    Q("fingerprint", _fingerprint, _FINGERPRINT_SQL,
      "canonical-text md5 fingerprinting"),
    Q("repetition_stats", _repetition_stats, _REPETITION_SQL,
      "Gopher-style repetition filter: top-word / top-bigram duplicate "
      "fractions + distinct-token ratio via map-side-combining "
      "(doc, term) aggregation"),
    Q("source_mix_sample", _source_mix_sample, _SOURCE_MIX_SQL,
      "weighted source-mixture sampling: per-source rates, md5-keyed "
      "deterministic selection, single narrow pass"),
    # sf_pin: the oracle's per-doc token counts are the mirror encoder's
    # checked-in sf0.01 parquet (the bpe_encode discipline)
    Q("pack_sequences", _pack_sequences, _PACK_SQL,
      "token-budget sequence packing: cumulative learned-merges BPE "
      "token windows per (source, md5-block) shard; oracle joins the "
      "mirror encoder's counts and restates the window in DuckDB",
      sf_pin=_BPE_PINNED_SF),
    Q("pii_redact", _pii_redact, _PII_SQL,
      "regex PII redaction (email/IPv4/phone) + match counts; pure "
      "JVM expression chain in the Java-regex ∩ RE2 common subset"),
    Q("strip_boilerplate", _strip_boilerplate, _BOILER_SQL,
      "C4-style line-frequency boilerplate removal: map-side-combining "
      "line-DF count, broadcast hot-line flag join, ordered per-doc "
      "reassembly"),
    Q("vocab_topk", _vocab_topk, _VOCAB_SQL,
      "tokenizer-vocabulary heavy hitters: token/document frequencies "
      "with a TakeOrderedAndProject global top-K (no full sort of the "
      "frequency table)"),
]
