"""tools/floorfree.digest_compare — the engine-side value check behind
the benchmark's `bi_queries` oracle check — and the DuckDB view
registration (tools/parity.duck_connection) it runs against.

The digest claims: two result multisets are equal iff (count, two
independent 60-bit md5-slice sums over a canonical row string) agree,
with the canonical string byte-identical across Spark and DuckDB for
every scalar type the registry emits. These tests pin exactly that:
cross-engine agreement on equal data (incl. NULLs, negative doubles,
timestamps) and detection of single-row edits, row swaps of float
values, and NULL-vs-absent conflation.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.floorfree import digest_compare

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck(spark):
    from tools.parity import duck_connection
    return duck_connection(SF)


def test_digest_matches_on_registry_queries(spark, duck):
    """The skipped-cell queries' exact schemas, tiny fixture: digest
    equality must reproduce what tools/parity.compare certifies."""
    from data_warehouse_spark.queries.registry import load_all
    specs = load_all()
    for q in ("w5_sessionize", "j6_asof_join", "u1_upsert",
              "x11_pii_redaction"):
        spec = specs[q]
        ok, msg, s_n, d_n = digest_compare(
            spec.fn(spark, SF), duck, spec.oracle)
        assert ok, f"{q}: {msg}"
        assert s_n == d_n > 0


def _mini(spark, duck_con):
    """A hand-built frame covering every canonical-type edge at once:
    NULLs in each type, a negative double, a double that rounds to -0,
    and a timestamp with microseconds."""
    sdf = spark.sql("""
        SELECT * FROM VALUES
          (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE),
           TIMESTAMP '2024-06-15 10:00:00.123456', 'alpha'),
          (CAST(-2 AS BIGINT), CAST(-0.0000001 AS DOUBLE),
           TIMESTAMP '2024-01-01 00:00:00', NULL),
          (CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS TIMESTAMP), 'with|~|sep')
        AS t(k, v, ts, s)""")
    duck_con.execute("""CREATE OR REPLACE VIEW __mini AS SELECT * FROM (
        VALUES (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE),
                TIMESTAMP '2024-06-15 10:00:00.123456', 'alpha'),
               (CAST(-2 AS BIGINT), CAST(-0.0000001 AS DOUBLE),
                TIMESTAMP '2024-01-01 00:00:00', NULL),
               (CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                CAST(NULL AS TIMESTAMP), 'with|~|sep')
        ) AS t(k, v, ts, s)""")
    return sdf


def test_digest_type_edges_match(spark, duck):
    sdf = _mini(spark, duck)
    ok, msg, s_n, d_n = digest_compare(sdf, duck, "SELECT * FROM __mini")
    assert ok, msg
    assert s_n == d_n == 3


def test_digest_detects_single_value_edit(spark, duck):
    sdf = _mini(spark, duck)
    ok, msg, *_ = digest_compare(
        sdf, duck,
        "SELECT k, v + CASE WHEN k = 1 THEN 1e-6 ELSE 0 END AS v, ts, s "
        "FROM __mini")
    assert not ok and "digest mismatch" in msg


def test_digest_detects_float_row_swap(spark, duck):
    """Values swapped BETWEEN rows keep every per-column aggregate
    identical — only a row-level hash catches it. This is the case
    that rules out the cheaper per-column-sums design."""
    sdf = _mini(spark, duck)
    ok, msg, *_ = digest_compare(
        sdf, duck,
        "SELECT k, CASE WHEN k = 1 THEN -0.0000001 WHEN k = -2 THEN 1.5 "
        "ELSE v END AS v, ts, s FROM __mini")
    assert not ok and "digest mismatch" in msg


def test_digest_detects_null_shift(spark, duck):
    """(1, NULL) vs (NULL, 1) in adjacent columns: concat_ws silently
    drops NULLs in both engines, so without the explicit sentinel the
    two rows would hash equal."""
    sdf = spark.sql("SELECT * FROM VALUES "
                    "(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)) AS t(a, b)")
    ok, msg, *_ = digest_compare(
        sdf, duck,
        "SELECT CAST(NULL AS BIGINT) AS a, CAST(1 AS BIGINT) AS b")
    assert not ok


def test_digest_detects_count_only_drift(spark, duck):
    """A duplicated row changes no distinct values — the count and the
    sums both move; assert the message names the parts."""
    sdf = _mini(spark, duck)
    ok, msg, *_ = digest_compare(
        sdf, duck, "SELECT * FROM __mini UNION ALL "
                   "SELECT * FROM __mini WHERE k = 1")
    assert not ok and "count" in msg


def test_digest_rejects_unsupported_type(spark, duck):
    sdf = spark.sql("SELECT array(1, 2) AS a")
    with pytest.raises(ValueError, match="unsupported result type"):
        digest_compare(sdf, duck, "SELECT [1, 2] AS a")


def test_duck_connection_skip_missing_registers_the_rest(tmp_path):
    """The benchmark's generated tables lack the LLM fixture tables:
    `skip_missing` registers what is there, skips what is not, and a
    query on a skipped table still fails loudly."""
    from data_warehouse_spark.io import TABLES
    from tools.parity import duck_connection
    missing = "documents"
    for t in TABLES:
        if t != missing:
            (tmp_path / f"{t}.parquet").symlink_to(f"{SF}/{t}.parquet")

    con = duck_connection(str(tmp_path), skip_missing=True)
    views = {r[0] for r in con.sql(
        "SELECT view_name FROM duckdb_views() WHERE NOT internal").fetchall()}
    assert views == set(TABLES) - {missing}
    assert con.sql("SELECT COUNT(*) FROM region").fetchone()[0] > 0
    with pytest.raises(duckdb.CatalogException, match=missing):
        con.sql(f"SELECT * FROM {missing}").fetchall()
