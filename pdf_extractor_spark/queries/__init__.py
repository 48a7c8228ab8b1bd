"""Query/oracle registry — the driver-facing coverage surface.

``QUERIES`` maps name → callable(spark, sf_dir) → DataFrame (``Q.run``,
which applies the query's sf pin); ``oracle_sql()`` maps the
SQL-expressible subset to DuckDB oracle strings.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession

from pdf_extractor_spark.queries import (
    dedup,
    extraction,
    relational,
    similarity,
    temporal,
    textops,
)
from pdf_extractor_spark.queries.base import Q

# Registry ORDER is part of the driver contract in practice: the
# driver's correctness gate checks the first ~50 registry entries, so
# (1) queries CHANGED this round come first — everything touched in a
# round must land inside the checked window (round 3's one gap: the
# rewritten ann_ivf fell outside and got only a rehearsal check), and
# (2) the STALE TAIL rotates through next — an unchanged query must
# still get a driver row at least every other round so driver evidence
# never goes stale (VERDICT r4 ask #3: the 14 relational demos last had
# a driver row in r03).  What falls outside is exactly the set that was
# driver-green in the PREVIOUS round's record.
_BASE: list[Q] = (
    similarity.QUERIES
    + temporal.QUERIES
    + extraction.QUERIES
    + dedup.QUERIES
    + textops.QUERIES
    + relational.QUERIES
)

# queries whose engine code changed since the r05 driver record
_CHANGED = [
    "cosine_topk", "ann_ivf", "ann_ivf_scaled", "ann_ivf_pq",
    "ann_ivf_pq_rerank", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_apply",
    "decontaminate", "dup_passages", "source_overlap",
    "dedup_embedding_cosine", "dedup_semantic", "audit_consistency",
    "pack_sequences",
]

# the 18 queries with no row in CORRECTNESS_r05 (outside the r5 window)
# — rotated to the front this round
_STALE_ROTATION = [
    "truncate_preview", "lang_id", "quality_score", "quality_bins",
    "token_count", "bpe_encode", "curation_route", "fingerprint",
    "repetition_stats", "source_mix_sample", "pii_redact",
    "strip_boilerplate", "vocab_topk", "event_minute_windows",
    "suppliers_per_region", "revenue_by_nation",
    "top_customers_by_segment", "pricing_summary",
]

_front = _CHANGED + _STALE_ROTATION
_by_name = {q.name: q for q in _BASE}
assert all(n in _by_name for n in _front), "rotation names drifted"
ALL: list[Q] = [_by_name[n] for n in _front] + [
    q for q in _BASE if q.name not in set(_front)
]

_names = [q.name for q in ALL]
assert len(_names) == len(set(_names)), "duplicate query names"

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    q.name: q.run for q in ALL
}


def oracle_sql() -> Dict[str, str]:
    """name → DuckDB oracle SQL for the SQL-expressible subset.  Built on
    call, not at import: some strings are expensive (the
    dedup_embedding_cosine centroid literals need the mirror k-means
    fit), and executor Python workers import this package for UDF
    closures."""
    return {q.name: q.sql_text for q in ALL if q.sql is not None}


def get(name: str) -> Q:
    return _by_name[name]
