from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def jobs_submitted(spark):
    """() -> number of Spark jobs submitted so far in the session (the
    scheduler's next job id): the difference around a call is the
    number of jobs it ran."""
    sched = spark._jsc.sc().dagScheduler()

    def count() -> int:
        nxt = sched.nextJobId()       # AtomicInteger, or its value
        return nxt if isinstance(nxt, int) else nxt.get()
    return count
