"""Driver-gate rehearsal: every registered query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS check (row-count + column set +
order-insensitive canonical value multiset) at sf0.001 so mismatches are
caught here before the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from pdf_extractor_spark import queries as regmod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

SQL_CHECKED = [q for q in regmod.ALL if q.sql is not None]
ROWS_ONLY = [q for q in regmod.ALL if q.sql is None]


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round explicitly; normalize representation only
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _arrow_type_token(t) -> str:
    """Canonical token for a pyarrow type (DuckDB result side)."""
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "hugeint"  # DuckDB sum(int) lands here — must be cast
    if pa.types.is_integer(t):
        return "int"  # driver hash is width-insensitive (r1: rank i32 vs i64 passed)
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_type_token(t.value_type)}>"
    return str(t)


def _spark_type_token(t) -> str:
    """Canonical token for a Spark SQL type, aligned with _arrow_type_token."""
    from pyspark.sql import types as T

    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return "float"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.BinaryType):
        return "bin"
    if isinstance(t, T.DecimalType):
        return "hugeint"
    if isinstance(t, T.ArrayType):
        return f"list<{_spark_type_token(t.elementType)}>"
    return t.simpleString()


def _pinned_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("q", SQL_CHECKED, ids=lambda q: q.name)
def test_query_matches_oracle(q, spark, oracle):
    # sf-pinned queries read their pin THEMSELVES (Q.run ignores the
    # harness dir) — pass the module default deliberately so a
    # regression back to trusting sf_dir turns this red
    sdf = q.run(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    # a pinned query's oracle must ALSO read the pinned corpus: e.g.
    # dedup_embedding_cosine's SQL embeds centroid literals fitted on the
    # pin — pairing them with this module's default sf views would block
    # Spark and DuckDB on different quantizers
    con = oracle if q.sf_pin in (None, SF_DIR) else _pinned_con(q.sf_pin)
    d_arrow = con.execute(q.sql_text).arrow()
    d_cols = d_arrow.schema.names
    d_rows = [tuple(r.values()) for r in d_arrow.to_pylist()]

    assert sorted(s_cols) == sorted(d_cols), (
        f"{q.name}: column mismatch {s_cols} vs {d_cols}"
    )
    # Driver hashes TYPED values: an int64 Spark column vs a HUGEINT
    # oracle column hash-mismatches even when every value is equal
    # (the round-1 `sessionize` red cell). Pin type parity here.
    s_types = {f.name: _spark_type_token(f.dataType) for f in sdf.schema.fields}
    d_types = {
        n: _arrow_type_token(d_arrow.schema.field(n).type) for n in d_cols
    }
    assert s_types == d_types, (
        f"{q.name}: type mismatch (driver hash is type-sensitive)\n"
        f" spark:  {s_types}\n oracle: {d_types}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{q.name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    cs = _canon_rows(s_cols, s_rows)
    cd = _canon_rows(d_cols, d_rows)
    if cs != cd:
        diff_a = [r for r in cs if r not in cd][:5]
        diff_b = [r for r in cd if r not in cs][:5]
        raise AssertionError(
            f"{q.name}: value mismatch\n spark-only: {diff_a}\n"
            f" oracle-only: {diff_b}"
        )


@pytest.mark.parametrize("q", ROWS_ONLY, ids=lambda q: q.name)
def test_rows_only_queries_run(q, spark):
    sdf = q.run(spark, SF_DIR)
    assert len(sdf.columns) > 0
    assert sdf.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) >= 30

