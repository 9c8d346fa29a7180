"""The reference's complete trip-reconstruction ETL as a reusable
library (trips_lambda.py:90-246 re-architected Spark-first).

The reference pipeline: extract 24h of bike_status from source
PostgreSQL via a 70-line SQL string, materialize the result in Lambda
memory (fetchall), and execute_values-upsert into the warehouse — three
network round-trips and a driver-memory cliff. Here the same semantics
are one lazy DataFrame chain ending in a partition-scoped merge write:
no row ever passes through the driver.

At 100 TB: bike_status is parquet partitioned by dt=date(ts); the 24h
incremental window prunes to 1-2 partitions; the window/groupBy
shuffles hash on bike_id (AQE-skew-handled); the upsert rewrites only
the date partitions the new trips touch.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_spark.functions.geo import haversine_km
from data_warehouse_spark.functions.timeutils import to_local
from data_warehouse_spark.io import require_schema
from data_warehouse_spark.operators.merge import merge_into_partitioned


# The bike_status columns build_trips reads (trips_lambda.py:94-106).
STATUS_SCHEMA = ("bike_id string, provider_id string, lat double, "
                 "lon double, timestamp timestamp")


@dataclass(frozen=True)
class TripConfig:
    """Validity thresholds — the reference's semantic filters
    (trips_lambda.py:128,160-162)."""
    min_gap_s: float = 60.0
    max_gap_s: float = 3600.0
    min_duration_min: float = 1.0
    max_duration_min: float = 60.0
    min_segments: int = 2
    local_tz: str = "Europe/Zurich"


def build_trips(bike_status: DataFrame, cfg: TripConfig = TripConfig()) -> DataFrame:
    """bike_status(bike_id, provider_id, lat, lon, timestamp[, ...]) ->
    all_trips rows (trips_lambda.py:94-164, faithful semantics
    including the one-trip-per-bike-per-window aggregation)."""
    w = Window.partitionBy("bike_id").orderBy("timestamp")
    local_time = to_local(F.col("timestamp"), cfg.local_tz)

    trip_data = bike_status.select(
        "bike_id", "provider_id",
        local_time.alias("local_time"),
        "lat", "lon",
        F.lag(local_time).over(w).alias("prev_time"),
        F.lag("lat").over(w).alias("prev_lat"),
        F.lag("lon").over(w).alias("prev_lon"),
    )

    # Reference-faithful, DELIBERATELY: the reference computes gaps on
    # the DST-shifted local wall clock (EXTRACT(EPOCH FROM (local_time
    # - prev_time)), trips_lambda.py:118,128), so segments spanning a
    # Europe/Zurich DST transition mis-measure by ±1h there and here
    # alike (spring-forward drops a real 10-min segment as >1h;
    # fall-back yields a negative gap). A UTC-gap variant would just be
    # gap over `timestamp` — kept identical to the reference (and the
    # e1 oracle) instead, because trip parity is the contract.
    gap_s = (F.unix_micros("local_time") - F.unix_micros("prev_time")) / 1e6
    trip_segments = (
        trip_data
        .filter(F.col("prev_time").isNotNull()
                & gap_s.between(cfg.min_gap_s, cfg.max_gap_s)
                & ((F.col("prev_lat") != F.col("lat"))
                   | (F.col("prev_lon") != F.col("lon"))))
        .select(
            "bike_id", "provider_id",
            F.col("local_time").alias("end_time"),
            F.col("prev_time").alias("start_time"),
            F.col("prev_lat").alias("start_lat"), F.col("prev_lon").alias("start_lon"),
            F.col("lat").alias("end_lat"), F.col("lon").alias("end_lon"),
            (gap_s / 60.0).alias("duration_minutes"),
            haversine_km(F.col("prev_lat"), F.col("prev_lon"),
                         F.col("lat"), F.col("lon")).alias("distance_km"),
        )
    )

    # MIN/MAX per coordinate COLUMN, independently — also reference-
    # faithful (trips_lambda.py:139-142: MIN(start_lat), MIN(start_lon)
    # ...), even though it can fabricate a start point no segment had
    # (lat from one segment, lon from another). min_by(start_lat,
    # start_time) pairs would give the true first point; the reference's
    # exact aggregate is kept because the e1 oracle checks parity with
    # it.
    trips = (
        trip_segments.groupBy("bike_id", "provider_id")
        .agg(F.min("start_time").alias("trip_start"),
             F.max("end_time").alias("trip_end"),
             F.min("start_lat").alias("start_lat"),
             F.min("start_lon").alias("start_lon"),
             F.max("end_lat").alias("end_lat"),
             F.max("end_lon").alias("end_lon"),
             F.sum("duration_minutes").alias("total_duration"),
             F.sum("distance_km").alias("total_distance"),
             F.count(F.lit(1)).alias("segment_count"))
        .filter(F.col("total_duration").between(cfg.min_duration_min,
                                                cfg.max_duration_min)
                & (F.col("total_distance") > 0)
                & (F.col("segment_count") >= cfg.min_segments))
    )
    return trips


def run_incremental(spark: SparkSession, source_path: str, target_path: str,
                    window_start: datetime, window_end: datetime,
                    cfg: TripConfig = TripConfig()) -> None:
    """The daily Lambda run (trips_lambda.py:212-246): scan the sliding
    window, rebuild trips, merge into the fact table keyed on
    (bike_id, trip_start) — idempotent re-runs, like ON CONFLICT.

    The log (dt-partitioned, or a plain parquet directory) is read with
    the columns build_trips needs declared (STATUS_SCHEMA), so the read
    runs no schema-inference job; the files of the scanned partitions
    are checked against them first (io.require_schema)."""
    status = spark.read.schema(STATUS_SCHEMA).parquet(source_path)
    ts_filter = ((F.col("timestamp") >= F.lit(window_start))
                 & (F.col("timestamp") < F.lit(window_end)))
    scanned = [source_path]
    if "dt" in status.columns:
        # partition pruning needs a predicate on the PARTITION column —
        # Spark cannot derive dt bounds from the timestamp filter, so
        # without this the daily run lists and opens every partition
        # of the table (O(table), not the promised O(1 day))
        ts_filter = ts_filter & F.col("dt").between(
            window_start.date(), window_end.date())
        days = (window_end.date() - window_start.date()).days
        scanned = [f"{source_path}/dt={window_start.date() + timedelta(d)}"
                   for d in range(days + 1)]
    require_schema(spark, scanned, status.drop("dt").schema)
    new_trips = build_trips(status.filter(ts_filter), cfg)
    # Partition-scoped MERGE (operators/merge.py): only the dt
    # partitions the window's trips fall into are read and rewritten —
    # the daily run costs O(1 day), not O(table), at any fact size.
    merge_into_partitioned(spark, target_path, new_trips,
                           keys=["bike_id", "trip_start"],
                           ts_col="trip_start")
