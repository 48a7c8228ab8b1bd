"""Shared plumbing for the query/oracle suite.

Each query is registered as a ``Q`` with a Spark callable
``fn(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB
oracle SQL string over the driver's pre-registered views (``region nation
customer supplier part orders lineitem events documents embeddings``).

Conventions that make the driver's order-insensitive value-hash stable:

- every computed column is explicitly aliased, identically on both sides;
- every floating-point result is explicitly ``round``-ed on both sides
  (Spark and DuckDB may sum doubles in different orders — rounding to a
  tolerance far above 1 ulp makes the hash deterministic);
- integer aggregates are cast to BIGINT on both sides (DuckDB ``sum(int)``
  is HUGEINT, Spark is LONG);
- timestamps cross the boundary as ``epoch_us`` BIGINT
  (Spark ``unix_micros`` ≙ DuckDB ``epoch_us``).

Work that several queries of one driver session share (fingerprint and
pair tables, embedding fits, quantile thresholds, the sink run) is
memoized through ``session_memo``, keyed by the live application id.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, TypeVar, Union

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


@dataclass(frozen=True)
class Q:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB oracle; None → rows-only check.  A zero-arg callable defers
    # EXPENSIVE construction (e.g. the dedup_embedding_cosine centroid
    # literals require the mirror k-means fit) out of module import —
    # executor Python workers import the queries package for UDF
    # closures and must not pay oracle-side work there.
    sql: Union[str, Callable[[], str], None]
    doc: str = ""
    # Pin the rehearsal's sf_dir for queries whose oracle is a checked-in
    # expected parquet generated at a specific scale (the driver always
    # compares at sf0.01; a pinned query must run against the same input
    # there too).  None → use whatever sf the harness chose.
    sf_pin: Optional[str] = None

    @property
    def sql_text(self) -> Optional[str]:
        """The oracle SQL string, resolving a deferred constructor."""
        return self.sql() if callable(self.sql) else self.sql


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def free_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint's storage NOW, not at the next GC.

    ``Dataset.unpersist()`` only clears CacheManager entries created by
    ``persist()`` — a checkpoint's blocks hang off the materialized RDD
    and otherwise live until the ContextCleaner collects the reference.
    A checkpointed frame's analyzed plan is exactly a LogicalRDD wrapping
    that RDD, so unpersist it there (verified: getPersistentRDDs drops to
    zero).  Best-effort: on any interface drift the blocks fall back to
    ContextCleaner GC, which is correctness-neutral."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# the one per-session memo: (applicationId, *key) -> value
_MEMO: dict = {}


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()`` once per (live Spark application, ``key``), then reuse.

    The query modules memoize checkpointed frames, fitted literals and
    sink output dirs per session.  Every access first drops the entries
    of applications that are no longer the live SparkContext, so a
    long-lived process that stops and restarts sessions does not
    accumulate stale DataFrame handles; a dropped DataFrame also has its
    localCheckpoint released (its blocks died with the app; the unpersist
    only clears the JVM handle).  ``build`` may itself call
    ``session_memo`` (a pair table built over a memoized fingerprint
    table); a ``build`` that raises stores nothing."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        val = _MEMO.pop(k)
        if isinstance(val, DataFrame):
            free_checkpoint(val)
    full_key = (app, *key)
    if full_key not in _MEMO:
        _MEMO[full_key] = build()
    return _MEMO[full_key]


def sql_escape(s: str) -> str:
    return s.replace("'", "''")


def rhu(col, digits: int):
    """Engine-portable round-half-up: floor(x*10^d + 0.5)/10^d.

    Spark rounds halves up, DuckDB rounds halves to even — a value landing
    exactly on a .xxxx5 boundary hashes differently under ``round``.  This
    form uses only IEEE multiply/add/floor, which both engines evaluate
    bit-identically, so the result is deterministic across engines.
    """
    from pyspark.sql import functions as F

    scale = float(10 ** digits)
    return F.floor(col * scale + 0.5) / scale


def rhu_sql(expr: str, digits: int) -> str:
    scale = float(10 ** digits)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def xor_checksum(*cols, sep: str = "\x1f"):
    """Order-insensitive content checksum with O(1) aggregation state.

    ``bit_xor`` over a 60-bit md5 prefix of each row — a partial+final
    hash aggregate, unlike ``md5(array_join(array_sort(collect_list(…))))``
    which buffers the whole group's text in ONE aggregation buffer (at
    100 TB a bucket's spans are terabytes; a collect_list checksum is a
    scale-killer — VERDICT r1).  XOR is commutative/associative, so the
    result is partition-order independent; 15 hex digits keep the value
    positive in an int64 on every engine.

    XOR cancels even multiplicities: a row written an even number of
    times contributes nothing, so the checksum ALONE cannot distinguish
    a doubled write from an omission of those rows.  The contract is
    therefore (checksum, count) as a PAIR — every audit/oracle row that
    carries this checksum also carries the group's row count (n_spans),
    and a duplicated write flips the count even when it preserves the
    XOR.  Consumers must compare both (tests/test_resume.py pins the
    pair property).

    Python equivalent (for oracle-side recomputation):
    ``reduce(xor, (int(md5(sep.join(vals).encode()).hexdigest()[:15], 16)))``
    """
    from pyspark.sql import functions as F

    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws(sep, *cols)), 1, 15), 16, 10
    ).cast("long")
    return F.bit_xor(row_hash)


def xor_checksum_py(rows, sep: str = "\x1f") -> int:
    """Pure-Python mirror of ``xor_checksum`` for oracle expectations.
    ``rows`` is an iterable of tuples of strings."""
    import hashlib

    acc = 0
    for vals in rows:
        h = hashlib.md5(sep.join(vals).encode("utf-8")).hexdigest()
        acc ^= int(h[:15], 16)
    return acc
