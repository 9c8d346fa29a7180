"""Fixture timestamp-encoding robustness (io.load_table /
io.scan_events_range / streaming.read_events_stream).

The driver regenerates /root/testdata fixtures between rounds and has
shipped events.ts as parquet TIMESTAMP(NANOS) (scans as long under the
legacy conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (scans as
TIMESTAMP_NTZ). Every loader must normalize both to plain TIMESTAMP on
the same UTC instants, or unix_micros() arithmetic breaks and
event-time semantics silently shift (the round-3 st9 explosion: raw
micros misread as millis collapsed a year of events into ~9 hours).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table, scan_events_range

SF = "/root/testdata/sf0.001"

ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 0, 1, 500000), 10, "click", 1.0, "{}"),
    (2, dt.datetime(2024, 6, 1, 12, 0, 0, 250000), 11, "view", 2.0, "{}"),
    (3, dt.datetime(2024, 12, 31, 23, 59, 59, 1), 12, "click", 3.0, "{}"),
]


def _write_events(path: str, unit: str) -> str:
    ids, tss, uids, types, vals, props = zip(*ROWS)
    ts_arr = pa.array(list(tss), type=pa.timestamp(unit))
    table = pa.table({
        "event_id": pa.array(list(ids), type=pa.int64()),
        "ts": ts_arr,
        "user_id": pa.array(list(uids), type=pa.int64()),
        "event_type": pa.array(list(types)),
        "value": pa.array(list(vals), type=pa.float64()),
        "props": pa.array(list(props)),
    })
    pq.write_table(table, f"{path}/events.parquet")
    return path


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_table_normalizes_both_encodings(spark, tmp_path, unit):
    d = _write_events(str(tmp_path), unit)
    df = load_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.ts for r in df.collect()}
    assert got == {i: t for i, t, *_ in ROWS}
    # unix_micros (the arithmetic the sessionizers depend on) resolves
    micros = df.select(F.unix_micros("ts").alias("us")).collect()
    assert all(r.us > 1_700_000_000_000_000 for r in micros)


def test_ntz_normalization_requires_utc_session(spark, tmp_path):
    """The NTZ branch is only correct under the engine's pinned UTC
    session timezone (the implicit NTZ->TIMESTAMP cast goes through
    the session tz); a mis-configured session must fail loudly, not
    shift every instant."""
    d = _write_events(str(tmp_path), "us")
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Zurich")
    try:
        with pytest.raises(RuntimeError, match="timeZone"):
            load_table(spark, d, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    assert dict(load_table(spark, d, "events").dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_scan_events_range_pushes_down_and_converts(spark, tmp_path, unit):
    d = _write_events(str(tmp_path), unit)
    out = scan_events_range(spark, d, "2024-01-01T00:00:00", "2024-07-01T00:00:00")
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert sorted(r.event_id for r in out.collect()) == [1, 2]
    # the range predicate must reach the parquet scan in the file-native
    # domain (long ns or TIMESTAMP_NTZ), not sit above a conversion
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.split("\n") if "PushedFilters" in l]
    assert scan_lines and "GreaterThanOrEqual(ts" in scan_lines[0]


def test_streaming_source_event_time_matches_batch(spark):
    """read_events_stream must land on the same instants as load_table
    (a micros-as-millis misread shifts everything to 1970)."""
    from data_warehouse_spark.streaming.jobs import read_events_stream

    batch_minmax = (load_table(spark, SF, "events")
                    .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
                    .collect()[0])
    stream = read_events_stream(spark, SF, max_files=100)
    q = (stream.groupBy()
         .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
         .writeStream.format("memory").queryName("enc_minmax")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM enc_minmax").collect()[0]
    assert got.lo == batch_minmax.lo
    assert got.hi == batch_minmax.hi


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_table_runs_no_spark_job(spark, tmp_path, jobs_submitted, unit):
    """The ts encoding comes from the footer, read on the driver; the
    read itself has a declared schema, so nothing infers one."""
    d = _write_events(str(tmp_path), unit)
    before = jobs_submitted()
    load_table(spark, d, "events")
    scan_events_range(spark, d, "2024-01-01T00:00:00", "2024-07-01T00:00:00")
    assert jobs_submitted() == before


@pytest.mark.parametrize("table, columns, error", [
    ("region", {"r_regionkey": pa.array([1], pa.int32())},
     "r_name is missing, declared string"),
    ("region", {"r_regionkey": pa.array([1], pa.int64()), "r_name": ["A"]},
     "r_regionkey is bigint, declared int"),
    ("events", {"event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ROWS[0][1]], pa.timestamp("us")),
                "user_id": ["u1"], "event_type": ["click"],
                "value": [1.0], "props": ["{}"]},
     "user_id is string, declared bigint"),
])
def test_load_table_rejects_a_file_that_disagrees(spark, tmp_path, table,
                                                 columns, error):
    """A declared-schema read would return a missing column as NULLs;
    a fixture file that disagrees with its declared schema fails the
    load instead, naming the file and the column."""
    d = tmp_path / f"{table}.parquet"
    d.mkdir()
    pq.write_table(pa.table(columns), str(d / "part-1.parquet"))
    with pytest.raises(ValueError, match=error):
        load_table(spark, str(tmp_path), table)
