"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship extraction pipeline at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full operator surface
(SURVEY.md §2 + the training-data ops) with DuckDB oracles for every
SQL-expressible operator.  Implementations live in
``pdf_extractor_spark/queries/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_extractor_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full transcript extraction pipeline (parse → link →
    stitch → resolve → normalize → sort) over the deterministic synthetic
    corpus; sf0.001 parquet dir is the smoke-scale anchor."""
    return _q.QUERIES["extract_spans"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
