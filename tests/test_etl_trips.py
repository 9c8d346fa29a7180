"""End-to-end test of the trip-reconstruction ETL library on a
synthetic bike_status log with known ground truth."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from data_warehouse_spark.etl.trips import TripConfig, build_trips, run_incremental
from data_warehouse_spark.io import write_partitioned


def _status_rows():
    """One bike making a clean 3-segment trip (5-min gaps, moving),
    one bike parked (no movement), one bike with too-long gaps."""
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = []
    # moving bike: 4 pings, 5 min apart, moving each time
    for i in range(4):
        rows.append(Row(bike_id="m1", provider_id="p", lat=47.0 + i * 0.01,
                        lon=8.0 + i * 0.01,
                        timestamp=t0 + dt.timedelta(minutes=5 * i)))
    # parked bike: pings but no movement
    for i in range(4):
        rows.append(Row(bike_id="parked", provider_id="p", lat=46.0, lon=7.0,
                        timestamp=t0 + dt.timedelta(minutes=5 * i)))
    # sparse bike: gaps of 2h -> outside max_gap
    for i in range(3):
        rows.append(Row(bike_id="sparse", provider_id="p", lat=45.0 + i * 0.1,
                        lon=6.0 + i * 0.1,
                        timestamp=t0 + dt.timedelta(hours=2 * i)))
    return rows


def test_build_trips_ground_truth(spark):
    status = spark.createDataFrame(_status_rows())
    trips = build_trips(status).collect()
    assert len(trips) == 1
    t = trips[0]
    assert t.bike_id == "m1"
    assert t.segment_count == 3
    assert abs(t.total_duration - 15.0) < 1e-9
    assert t.total_distance > 0


def test_run_incremental_idempotent(spark):
    base = tempfile.mkdtemp(prefix="dws_etl_")
    shutil.rmtree(base, ignore_errors=True)
    src, dst = base + "/status", base + "/trips"
    spark.createDataFrame(_status_rows()).write.parquet(src)
    w0 = dt.datetime(2024, 3, 1)
    w1 = dt.datetime(2024, 3, 2)
    run_incremental(spark, src, dst, w0, w1)
    first = spark.read.parquet(dst).collect()
    run_incremental(spark, src, dst, w0, w1)  # daily re-run over same window
    second = spark.read.parquet(dst).collect()
    assert len(first) == len(second) == 1
    assert first[0].asDict() == second[0].asDict()


@pytest.mark.parametrize("lat, error", [
    (None, "lat is missing, declared double"),
    (pa.array(["47.0"]), "lat is string, declared double"),
])
def test_run_incremental_rejects_log_files_that_disagree(spark, tmp_path,
                                                        lat, error):
    """The log is read with the columns build_trips needs declared; a
    file in a scanned partition that lacks one (it would read as NULLs
    and silently drop trips) or stores it as another type fails the run
    before the merge writes anything."""
    src, dst = str(tmp_path / "status"), str(tmp_path / "trips")
    write_partitioned(spark.createDataFrame(_status_rows()), src,
                      ts_col="timestamp")
    cols = {"bike_id": ["m2"], "provider_id": ["p"], "lon": [8.0],
            "timestamp": pa.array([dt.datetime(2024, 3, 1, 11)],
                                  pa.timestamp("us", "UTC"))}
    if lat is not None:
        cols["lat"] = lat
    pq.write_table(pa.table(cols), f"{src}/dt=2024-03-01/planted.parquet")
    with pytest.raises(ValueError, match=error):
        run_incremental(spark, src, dst, dt.datetime(2024, 3, 1),
                        dt.datetime(2024, 3, 2))
    assert not (tmp_path / "trips").exists()


def test_e3_enriched_trips_schema_and_semantics(spark, sf_dir):
    """e3 fills every all_trips column (trips_lambda.py:52-84); trips
    whose start point falls outside every region keep NULL enrichment
    (the reference's own unfilled-column behavior), and weather values
    come from a reading at-or-before trip_start."""
    from data_warehouse_spark.queries.sessions import e3_enriched_trips, trips_fact

    out = e3_enriched_trips(spark, sf_dir)
    assert out.columns == [
        "bike_id", "provider_id", "trip_start", "trip_end",
        "start_lat", "start_lon", "end_lat", "end_lon",
        "total_duration", "total_distance", "segment_count",
        "municipality", "canton", "vehicle_type", "city",
        "temperature", "humidity", "aqi", "pm25",
    ]
    rows = out.collect()
    n_trips = trips_fact(spark, sf_dir).count()
    assert len(rows) == n_trips  # left joins never drop or duplicate trips
    for r in rows:
        # municipality/canton/city travel together (one region dim row)
        assert (r.municipality is None) == (r.canton is None) == (r.city is None)
        # weather only attaches to trips inside a region
        if r.municipality is None:
            assert r.temperature is None and r.aqi is None
        # vehicle_type dim covers every provider_id in the fixture
        assert r.vehicle_type is not None
