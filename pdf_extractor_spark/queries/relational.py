"""Relational operator family from SURVEY.md §2 (filters, joins, aggs,
windows, sorts, explode, set ops) expressed Spark-first with DuckDB oracles.

Reference parity (file:line = /root/reference/src unless noted):

- pricing_summary      ≙ A1–A3 conditional aggregation (pipeline.py:262-265,
  evaluator.py:342-363) — partial+final hash agg, no per-row Python.
- priority_counts      ≙ A2/A5 count_if summaries (pipeline.py:296-298,
  reviewer.py:273-275).
- part_filter          ≙ F1 min-size filter (pdf_processor.py:146-147) —
  predicate + projection pushed to the parquet scan.
- lookup_join          ≙ J2 broadcast hash lookup (reference_resolver.py:414,
  321) — small side broadcast, left outer "no source" path (:338-345).
- anti_resume          ≙ checkpoint resume skip (pipeline.py:199-203) as a
  left-anti join against the processed watermark.
- latest_wins          ≙ W3/S12 newest-review-per-qa merge
  (reviewer.py:257-260) — row_number over (key ORDER BY ts DESC).
- forward_fill         ≙ W1 previous-page context inheritance
  (pipeline.py:221-243, prompts/extraction.md:82-90) —
  last(ignorenulls) over an ordered window.
- sessionize           ≙ J1/W2 gaps-and-islands span stitching
  (pipeline.py:17-89) applied to time gaps — running-sum boundary ids.
- running_total        ≙ W2 running aggregate over ordered partition.
- sort_key             ≙ O1/O2 parse_qa_id numeric+suffix ordering
  (pipeline.py:92-127) with the (0,0,id) fallback — the flagship's own
  ``sort_key_columns``, which runs ``core.structure.parse_qa_id`` over
  Arrow batches; the DuckDB oracle formats ``QA_ID_RE`` into SQL.
- explode_tokens       ≙ E1/E2 nested→flat explode (pipeline.py:267-287).
- group_concat         ≙ A6/T8 ordered collect_list + join
  (pipeline.py:227-243).
- range_slice          ≙ S16 page-range extraction
  (scripts/extract_pages.py:10-43).
- topk_orders          ≙ O3 top-k display limit (evaluator.py:431-434).
- union_dedupe         ≙ §2.7 checkpoint-union + review merge dedupe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_extractor_spark.core.structure import QA_ID_RE
from pdf_extractor_spark.job.extract import sort_key_columns
from pdf_extractor_spark.queries.base import Q, load, rhu, rhu_sql


# --------------------------------------------------------------------- aggs

def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rhu(F.sum("l_quantity"), 2).alias("sum_qty"),
            rhu(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rhu(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            rhu(F.avg("l_quantity"), 4).alias("avg_qty"),
            rhu(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       (floor(sum(l_quantity) * 100.0 + 0.5) / 100.0)     AS sum_qty,
       (floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0) AS sum_base_price,
       (floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0) AS sum_disc_price,
       (floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
       (floor(avg(l_discount) * 1000000.0 + 0.5) / 1000000.0) AS avg_disc,
       count(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        rhu(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


_PRIORITY_SQL = """
SELECT o_orderpriority,
       count(*)                                        AS n_orders,
       count(*) FILTER (o_totalprice > 200000)         AS n_large,
       count(*) FILTER (o_orderstatus = 'F')           AS n_finished,
       (floor(avg(o_totalprice) * 100.0 + 0.5) / 100.0) AS avg_price
FROM orders GROUP BY o_orderpriority
"""


# ------------------------------------------------------------ filter/project

def _part_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.filter((F.col("p_size") >= 25) | (F.col("p_retailprice") > 1500))
        .select("p_partkey", "p_name", "p_size",
                rhu(F.col("p_retailprice"), 2).alias("p_retailprice"))
    )


_PART_FILTER_SQL = """
SELECT p_partkey, p_name, p_size, (floor(p_retailprice * 100.0 + 0.5) / 100.0) AS p_retailprice
FROM part WHERE p_size >= 25 OR p_retailprice > 1500
"""


# ------------------------------------------------------------------- joins

def _lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left"
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("c_name", F.lit("<no customer>")).alias("c_name"),
        F.coalesce("c_mktsegment", F.lit("<none>")).alias("c_mktsegment"),
        F.col("c_custkey").isNull().alias("missing_customer"),
    )


_LOOKUP_SQL = """
SELECT o_orderkey, o_custkey,
       coalesce(c_name, '<no customer>')      AS c_name,
       coalesce(c_mktsegment, '<none>')       AS c_mktsegment,
       c_custkey IS NULL                      AS missing_customer
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def _anti_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ------------------------------------------------------------------ windows

def _latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id", "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )


_LATEST_SQL = """
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def _forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sparse = F.when(F.col("event_type") != "click", F.col("event_type"))
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.last(sparse, ignorenulls=True).over(w), F.lit("<start>")
        ).alias("filled_type"),
    )


_FFILL_SQL = """
SELECT event_id, user_id,
       coalesce(
         last_value(CASE WHEN event_type <> 'click' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         '<start>') AS filled_type
FROM events
"""


_SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(
        gap.isNull() | (gap > _SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        e.withColumn(
            "session_no",
            F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )


_SESSION_SQL = f"""
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), b AS (
  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
                 THEN 1
                 WHEN lag(ts_us) OVER w IS NULL THEN 1
                 ELSE 0 END AS new_sess
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), s AS (
  SELECT *, sum(new_sess) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM b
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*)       AS n_events,
       min(event_id)  AS first_event,
       max(event_id)  AS last_event,
       min(ts_us)     AS start_us,
       max(ts_us)     AS end_us
FROM s GROUP BY user_id, session_no
"""


def _running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        rhu(F.sum("value").over(w), 4).alias("running_value"),
    )


_RUNNING_SQL = """
SELECT event_id, user_id,
       (floor(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000.0 + 0.5)
        / 10000.0)
       AS running_value
FROM events
"""


# ----------------------------------------------------------- sort-key parse

def _sort_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    suffix = F.element_at(
        F.array(F.lit(""), F.lit("a"), F.lit("b"), F.lit("c")),
        (F.col("p_partkey") % 4 + 1).cast("int"),
    )
    qa = F.concat(
        (F.col("p_partkey") % 9 + 1).cast("string"),
        F.lit("."),
        (F.col("p_partkey") % 30 + 1).cast("string"),
        suffix,
    )
    df = sort_key_columns(p.select("p_partkey", qa.alias("qa_id")), "qa_id")
    w = Window.orderBy("sk_chapter", "sk_question", "sk_suffix", "p_partkey")
    return df.withColumn("rank", F.row_number().over(w))


_SORT_KEY_SQL = """
WITH ids AS (
  SELECT p_partkey,
         (p_partkey % 9 + 1)::VARCHAR || '.' || (p_partkey % 30 + 1)::VARCHAR
           || (['', 'a', 'b', 'c'])[(p_partkey % 4 + 1)] AS qa_id
  FROM part
), keys AS (
  SELECT p_partkey, qa_id,
         CASE WHEN regexp_extract(qa_id, '{pat}', 1) <> ''
              THEN CAST(regexp_extract(qa_id, '{pat}', 1) AS DOUBLE)
              ELSE 0.0 END AS sk_chapter,
         CASE WHEN regexp_extract(qa_id, '{pat}', 1) <> ''
              THEN CAST(regexp_extract(qa_id, '{pat}', 2) AS DOUBLE)
              ELSE 0.0 END AS sk_question,
         CASE WHEN regexp_extract(qa_id, '{pat}', 1) <> ''
              THEN regexp_extract(qa_id, '{pat}', 3)
              ELSE qa_id END AS sk_suffix
  FROM ids
)
SELECT *, row_number() OVER (
    ORDER BY sk_chapter, sk_question, sk_suffix, p_partkey) AS rank
FROM keys
""".format(pat=QA_ID_RE.pattern)


# ---------------------------------------------------------------- explode

def _explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EXPLODE_SQL = """
SELECT token, count(*) AS n
FROM documents, unnest(string_split(text, ' ')) AS u(token)
WHERE token <> ''
GROUP BY token
"""


def _group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("first_docs"),
            F.count(F.lit(1)).alias("n_shown"),
        )
    )


_GROUP_CONCAT_SQL = """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT lang,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS first_docs,
       count(*) AS n_shown
FROM r WHERE rn <= 5 GROUP BY lang
"""


# ----------------------------------------------------------- slice / topk

def _range_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.filter(
        (F.col("ts") >= F.lit("2024-01-10"))
        & (F.col("ts") < F.lit("2024-01-12"))
    ).select("event_id", "user_id", "event_type",
             F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))


_RANGE_SQL = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
"""


def _topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey",
                rhu(F.col("o_totalprice"), 2).alias("o_totalprice"))
    )


_TOPK_SQL = """
SELECT o_orderkey, o_custkey, (floor(o_totalprice * 100.0 + 0.5) / 100.0) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def _union_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 2 == 1)
    b = e.filter(F.col("event_id") < 700)
    return (
        a.unionByName(b)
        .select("event_id", "user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


_UNION_SQL = """
WITH u AS (
  SELECT event_id, user_id, event_type FROM events WHERE event_id % 2 = 1
  UNION
  SELECT event_id, user_id, event_type FROM events WHERE event_id < 700
)
SELECT event_type, count(*) AS n_unique FROM u GROUP BY event_type
"""


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join + agg (TPC-H Q5 shape): Catalyst picks broadcast
    for the dimension chain, shuffle only on the fact side."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .groupBy("n_name")
        .agg(
            rhu(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


_REVENUE_SQL = """
SELECT n_name,
       (floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0) AS revenue,
       count(*) AS n_lineitems,
       count(DISTINCT o_custkey) AS n_customers
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
"""


def _top_customers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join + per-group ranking window → top-3 per market segment."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(rhu(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spend"), F.asc("c_custkey")
    )
    return (
        spend.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "rank", "c_custkey", "c_name",
                "total_spend")
    )


_TOP_CUSTOMERS_SQL = """
WITH spend AS (
  SELECT c_mktsegment, c_custkey, c_name,
         (floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0) AS total_spend
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, c_custkey, c_name
)
SELECT c_mktsegment, rank, c_custkey, c_name, total_spend FROM (
  SELECT *, row_number() OVER (
      PARTITION BY c_mktsegment
      ORDER BY total_spend DESC, c_custkey ASC) AS rank
  FROM spend
) WHERE rank <= 3
"""


def _event_minute_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch form (the streaming twin lives
    in streaming/ingest.py stream_turn_metrics)."""
    e = load(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "1 minute")
    return (
        e.groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rhu(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type", "n_events", "sum_value",
        )
    )


_EVENT_WINDOWS_SQL = """
SELECT epoch_us(date_trunc('minute', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       (floor(sum(value) * 10000.0 + 0.5) / 10000.0) AS sum_value
FROM events
GROUP BY date_trunc('minute', ts), event_type
"""


def _suppliers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim-chain join covering the remaining catalog tables."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.countDistinct("n_name").alias("n_nations"),
        )
    )


_SUPPLIERS_SQL = """
SELECT r_name, count(*) AS n_suppliers,
       count(DISTINCT n_name) AS n_nations
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


QUERIES: list[Q] = [
    Q("event_minute_windows", _event_minute_windows, _EVENT_WINDOWS_SQL,
      "tumbling-window aggregation (batch twin of the metrics stream)"),
    Q("suppliers_per_region", _suppliers_per_region, _SUPPLIERS_SQL,
      "dimension-chain join over supplier/nation/region"),
    Q("revenue_by_nation", _revenue_by_nation, _REVENUE_SQL,
      "4-way star join + distinct agg (TPC-H Q5 shape)"),
    Q("top_customers_by_segment", _top_customers_by_segment,
      _TOP_CUSTOMERS_SQL, "join + per-group top-3 ranking window"),
    Q("pricing_summary", _pricing_summary, _PRICING_SQL,
      "A1-A3 conditional hash aggregation (TPC-H Q1 shape)"),
    Q("priority_counts", _priority_counts, _PRIORITY_SQL,
      "A2/A5 count_if summary"),
    Q("part_filter", _part_filter, _PART_FILTER_SQL,
      "F1 predicate+projection pushdown"),
    Q("lookup_join", _lookup_join, _LOOKUP_SQL,
      "J2 broadcast left lookup join"),
    Q("anti_resume", _anti_resume, _ANTI_SQL,
      "checkpoint-resume left-anti join"),
    Q("latest_wins", _latest_wins, _LATEST_SQL,
      "W3 latest-review-wins row_number dedupe"),
    Q("forward_fill", _forward_fill, _FFILL_SQL,
      "W1 last(ignorenulls) forward fill"),
    Q("sessionize", _sessionize, _SESSION_SQL,
      "J1/W2 gaps-and-islands sessionization"),
    Q("running_total", _running_total, _RUNNING_SQL,
      "W2 running aggregate"),
    Q("sort_key", _sort_key, _SORT_KEY_SQL,
      "O1/O2 parse_qa_id numeric+suffix global sort"),
    Q("explode_tokens", _explode_tokens, _EXPLODE_SQL,
      "E1 explode/unnest token counts"),
    Q("group_concat", _group_concat, _GROUP_CONCAT_SQL,
      "A6/T8 ordered group concat"),
    Q("range_slice", _range_slice, _RANGE_SQL,
      "S16 range extraction"),
    Q("topk_orders", _topk_orders, _TOPK_SQL, "O3 top-k"),
    Q("union_dedupe", _union_dedupe, _UNION_SQL,
      "§2.7 union + distinct dedupe"),
]
