"""Spark-vs-DuckDB result comparison for the query registry.

``duck_connection`` registers every fixture table as a DuckDB view;
``compare`` checks a Spark result against its oracle's: row count,
column-name set, and values (order-insensitive, column-name-sorted).
Floats are compared exactly after the queries' own round(…, 6)
discipline; a near-miss is reported as such so it is easy to tell from
a real mismatch. ``tests/test_parity.py`` runs every registry query
through it; check a subset with ``pytest tests/test_parity.py -k <id>``.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from data_warehouse_spark.io import TABLES


def duck_connection(sf_dir: str,
                    skip_missing: bool = False) -> duckdb.DuckDBPyConnection:
    """Register every fixture table ``{sf_dir}/{table}.parquet`` as a
    DuckDB view. `skip_missing` tolerates absent tables: the benchmark's
    generated `bi_queries` tables (``warehouse_bench/checks.py``) lack
    the LLM fixture tables, and DuckDB binds read_parquet eagerly at
    CREATE VIEW, so a missing table would otherwise fail registration
    of the whole connection. A query touching a skipped table still
    fails loudly (unknown view)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if skip_missing and not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive compare: sort cols by name,
    normalize dtypes, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            s = s.map(lambda v: float(v) if hasattr(v, "as_tuple") else v)  # Decimal
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")  # engines differ on int width (len(), rank())
        elif s.dtype == "float32":
            s = s.astype("float64")
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_df) != len(duck_df):
        return False, f"row count {len(spark_df)} != {len(duck_df)}"
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return False, f"columns {sorted(spark_df.columns)} != {sorted(duck_df.columns)}"
    a, b = _canon(spark_df), _canon(duck_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver hashes rendered values, so int64 1234 vs float64
        # 1234.0 is a hash MISMATCH even though numerically equal.
        # DuckDB returns HUGEINT for uncast SUM(BIGINT), which pandas
        # renders float64 — exactly how s9/s10/x14/x14b sailed through
        # two rounds of local parity while failing the driver. Fail
        # here the way the driver would (round-6 verdict ask #2).
        int_a = pd.api.types.is_integer_dtype(av)
        int_b = pd.api.types.is_integer_dtype(bv)
        if int_a != int_b:
            return False, (f"col '{c}' dtype mismatch: spark={av.dtype} vs "
                           f"oracle={bv.dtype} — driver hash would fail "
                           "(uncast HUGEINT SUM in the oracle?)")
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            na_mismatch = (av.isna() != bv.isna()).any()
            diff = (av.fillna(0) - bv.fillna(0)).abs().max()
            if na_mismatch or (diff and diff > 0):
                # reaching here means some pair already differs, so the
                # only question left is HOW badly (near-miss vs real)
                rel_ok = not na_mismatch and bool(
                    ((av.fillna(0) - bv.fillna(0)).abs()
                     <= 1e-9 * (1 + bv.fillna(0).abs())).all())
                tag = "NEAR(<=1e-9 rel)" if rel_ok else f"maxdiff={diff}"
                return False, f"float col '{c}' not bit-equal: {tag}"
        else:
            if not av.equals(bv):
                neq = (av != bv) & ~(av.isna() & bv.isna())
                i = int(neq.idxmax()) if neq.any() else 0
                return False, f"col '{c}' differs, e.g. row {i}: {av[i]!r} != {bv[i]!r}"
    return True, "ok"
