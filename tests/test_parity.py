"""Registry parity: every registered query, run on Spark at sf0.01, must
equal its DuckDB oracle over the same fixture tables (row count, column
names and order-insensitive values, via ``tools.parity.compare``).

Check a subset with ``pytest tests/test_parity.py -k <query id>``.
"""

from __future__ import annotations

import pytest

from data_warehouse_spark.queries.registry import load_all
from data_warehouse_spark.session import ARROW_BATCH_DEFAULT
from tools.parity import compare, duck_connection

SF_PARITY = "/root/testdata/sf0.01"
SPECS = load_all()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_PARITY)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    got = spec.fn(spark, SF_PARITY).toPandas()
    # Builders leave session state alone: a conf a query set would leak
    # into every query the shared session runs after it.
    assert (spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
            == str(ARROW_BATCH_DEFAULT)), f"{name} changed the Arrow batch size"
    ok, msg = compare(got, duck.sql(spec.oracle).df())
    assert ok, f"{name}: {msg}"
