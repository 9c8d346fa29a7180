"""Engine-side digest comparison of a Spark result against its DuckDB
oracle, without pulling rows to the driver.

``digest_compare(spark_df, con, oracle_sql)`` reduces each engine's
result to a row count and two md5-slice sums over a canonical row
string that both engines render byte-identically. The benchmark's
``bi_queries`` check (``warehouse_bench/checks.py``) and
``tests/test_digest.py`` use it; ``tools/parity.duck_connection``
builds the DuckDB side.
"""

from __future__ import annotations

_DIGEST_SEP = "|~|"
_DIGEST_NULL = "<NULL>"


def _digest_parts(fields: list[tuple[str, str]]) -> tuple[str, str]:
    """Per-column canonical-string SQL for BOTH engines, from the Spark
    result schema (column name, simpleString type), columns sorted by
    name (the parity discipline). Every expression is chosen so the two
    engines produce byte-identical strings for equal values:

    - doubles: FLOOR(c * 1e6 + 0.5) — pure IEEE arithmetic, identical
      op-for-op in both engines, instead of ROUND(c, 6) whose tie-
      breaking lives in different library code (BigDecimal HALF_UP vs
      C round()) and could disagree on adversarial bit patterns;
    - timestamps: microsecond-fixed format (both fixtures and results
      are micros; strftime %f == date_format SSSSSS, probed identical);
    - ints/strings: plain casts (probed identical);
    - NULL: explicit sentinel — concat_ws SKIPS nulls in both engines,
      which would silently conflate (1, NULL) with (1).
    """
    sparks, ducks = [], []
    for name, t in sorted(fields):
        q, d = f"`{name}`", f'"{name}"'
        if t in ("double", "float"):
            sp = (f"CASE WHEN isnan({q}) THEN 'NaN' ELSE CAST(CAST("
                  f"FLOOR({q} * 1000000.0 + 0.5) AS BIGINT) AS STRING) END")
            du = (f"CASE WHEN isnan({d}) THEN 'NaN' ELSE CAST(CAST("
                  f"FLOOR({d} * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) END")
        elif t.startswith("timestamp"):
            sp = f"date_format({q}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
            du = f"strftime({d}, '%Y-%m-%d %H:%M:%S.%f')"
        elif t == "date":
            sp = f"date_format({q}, 'yyyy-MM-dd')"
            du = f"strftime({d}, '%Y-%m-%d')"
        elif t == "boolean":
            sp = f"CAST(CAST({q} AS INT) AS STRING)"
            du = f"CAST(CAST({d} AS INT) AS VARCHAR)"
        elif t in ("tinyint", "smallint", "int", "bigint", "string"):
            sp = f"CAST({q} AS STRING)"
            du = f"CAST({d} AS VARCHAR)"
        else:
            raise ValueError(f"digest: unsupported result type {t} "
                             f"for column {name}")
        sparks.append(f"COALESCE({sp}, '{_DIGEST_NULL}')")
        ducks.append(f"COALESCE({du}, '{_DIGEST_NULL}')")
    return (f"concat_ws('{_DIGEST_SEP}', " + ", ".join(sparks) + ")",
            f"concat_ws('{_DIGEST_SEP}', " + ", ".join(ducks) + ")")


def digest_compare(spark_df, con,
                   oracle_sql: str) -> tuple[bool, str, int, int]:
    """Order-insensitive value verification WITHOUT pulling rows: each
    engine reduces its result to (count, sum of two independent 60-bit
    md5 slices over the canonical row string) and only the three
    scalars cross the engine boundary. A multiset difference of even
    one row flips a sum with probability 1 - 2^-120.

    Returns (ok, message, spark_rows, duckdb_rows)."""
    fields = [(f.name, f.dataType.simpleString())
              for f in spark_df.schema.fields]
    sp_row, du_row = _digest_parts(fields)
    spark_agg = spark_df.selectExpr(f"md5({sp_row}) AS h").selectExpr(
        "count(*) AS n",
        "SUM(CAST(conv(substring(h, 1, 15), 16, 10) AS DECIMAL(38,0))) AS d1",
        "SUM(CAST(conv(substring(h, 17, 15), 16, 10) AS DECIMAL(38,0))) AS d2",
    ).collect()[0]
    duck_agg = con.execute(
        f"SELECT COUNT(*) AS n, "
        f"SUM(CAST('0x' || substr(h, 1, 15) AS BIGINT)) AS d1, "
        f"SUM(CAST('0x' || substr(h, 17, 15) AS BIGINT)) AS d2 "
        f"FROM (SELECT md5({du_row}) AS h FROM ({oracle_sql}) AS __r) AS __h"
    ).fetchone()
    s = (int(spark_agg.n), int(spark_agg.d1 or 0), int(spark_agg.d2 or 0))
    k = (int(duck_agg[0]), int(duck_agg[1] or 0), int(duck_agg[2] or 0))
    if s == k:
        return True, (f"engine-side md5-sum digest over {s[0]} rows "
                      "(two independent 60-bit slices + count, all "
                      "equal)"), s[0], k[0]
    parts = [p for p, (a, b) in zip(("count", "digest1", "digest2"),
                                    zip(s, k)) if a != b]
    return False, (f"digest mismatch ({', '.join(parts)}): "
                   f"spark={s} duckdb={k}"), s[0], k[0]
