"""Oracle-differential tests — a local replay of the driver's
correctness gate (SURVEY.md §5.2.1).

For every registered query with an oracle, run the Spark DataFrame and
the DuckDB SQL on the same sf0.001 parquet and require the row multisets
to match EXACTLY (bitwise for floats — the engine's numeric policy in
functions/exact.py is designed to make that possible).  If this passes,
the driver's order-insensitive value-hash at sf0.01 passes too.
"""

from __future__ import annotations

import datetime
import math
import struct
from decimal import Decimal

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops

from conftest import SF_DIR


def canon(v):
    """Canonicalize a cell so Spark and DuckDB values compare exactly."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.pack(">d", v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("f", struct.pack(">d", float(v)))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple, dict, set)):
        # Mirror the driver's real limitation: its pandas canonicalizer
        # cannot hash nested cells (round-3 ERR class).  A lenient local
        # canon here is exactly how three queries shipped "green" and
        # died at the gate — so nested output now fails locally too.
        raise TypeError(
            f"nested cell {type(v).__name__} in oracle-checked output — "
            "explode to scalar rows or serialize in BOTH query and oracle"
        )
    if isinstance(v, (bytes, bytearray)):
        return ("by", bytes(v))
    return ("s", str(v))


def spark_rows(df):
    cols = sorted(df.columns)
    return cols, [tuple(canon(row[c]) for c in cols) for row in df.collect()]


def cursor_rows(cur):
    """Sorted column names and canonical rows of an executed DuckDB cursor."""
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(names), [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]


def duck_rows(con, sql):
    names, rows = cursor_rows(con.execute(sql))
    arrow_types = {
        f.name: _arrow_base(f.type) for f in con.execute(sql).fetch_arrow_table().schema
    }
    return names, rows, arrow_types


def _arrow_base(t) -> str:
    """Canonical base name of an arrow type (width-exact for numerics,
    lenient for string/timestamp flavors)."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_base(t.value_type)}>"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return str(t)


_SPARK_TO_ARROW = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def spark_arrow_base(dtype: str) -> str:
    if dtype.startswith("decimal"):
        return "decimal"
    if dtype.startswith("array<"):
        return f"list<{spark_arrow_base(dtype[6:-1])}>"
    return _SPARK_TO_ARROW.get(dtype, dtype)


def replay_oracle_parity(spark, fixture_dir, queries):
    """Replay each named oracle query against a fixture dir on BOTH
    engines and return the failure list — the shared harness of the
    fixture sweeps (dirty text / NULL measures / NULL dims / empty
    tables)."""
    import duckdb

    from conftest import TABLES

    con = duckdb.connect()
    failures = []
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'"
            )
        for name in queries:
            q = ops.REGISTRY[name]
            try:
                got_cols, got = spark_rows(q.fn(spark, fixture_dir))
                want_cols, want, _ = duck_rows(con, q.oracle)
                if got_cols != want_cols:
                    failures.append((name, "cols", got_cols, want_cols))
                elif sorted(got) != sorted(want):
                    failures.append((name, "rows", len(got), len(want)))
            except Exception as e:  # noqa: BLE001 - report every query's verdict
                failures.append((name, "error", str(e).splitlines()[0][:160]))
    finally:
        con.close()
    return failures


SPECS = [s for s in ops.REGISTRY.values() if s.oracle]
ROWS_ONLY = [s for s in ops.REGISTRY.values() if not s.oracle]


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_matches_oracle(spark, oracle, spec):
    df = spec.fn(spark, SF_DIR)
    s_cols, s_rows = spark_rows(df)
    d_cols, d_rows, d_types = duck_rows(oracle, spec.oracle)
    assert s_cols == d_cols, f"{spec.name}: column names differ: {s_cols} vs {d_cols}"
    # width-exact schema agreement (the driver may be type-strict)
    for col, sdt in df.dtypes:
        if col in d_types and not sdt.startswith("map"):
            assert spark_arrow_base(sdt) == d_types[col], (
                f"{spec.name}.{col}: spark {sdt} vs oracle arrow {d_types[col]}"
            )
    assert len(s_rows) == len(d_rows), (
        f"{spec.name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    s_sorted, d_sorted = sorted(s_rows), sorted(d_rows)
    if s_sorted != d_sorted:
        diffs = [
            (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
        ][:5]
        raise AssertionError(f"{spec.name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("spec", ROWS_ONLY, ids=[s.name for s in ROWS_ONLY])
def test_rows_only_runs(spark, spec):
    df = spec.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_no_nested_types_in_oracle_output(spark, spec):
    """Structural ban making the round-3 ERR class impossible: the
    driver's pandas canonicalizer cannot hash array/map/struct cells,
    so no oracle-bearing query may emit one — explode to scalar rows
    or serialize (to_json/array_join) instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = spec.fn(spark, SF_DIR)
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{spec.name} emits nested column(s) {nested} — the driver's "
        "canonicalizer dies on these (round-3 ERR class)"
    )
