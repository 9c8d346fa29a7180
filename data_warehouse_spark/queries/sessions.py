"""Flagship sessionization queries (SURVEY §2.5 W5, §3 E1).

The reference's core computation is trip reconstruction over a GPS
snapshot log (trips_lambda.py:94-164). The fixtures have no bike table;
per FIXTURES.md §C the `events` table plays the log role
(user_id≈bike_id, ts≈timestamp), with deterministic pseudo-coordinates
derived from numeric columns so the haversine path is exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_spark.functions.geo import haversine_km, haversine_km_sql
from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.sessionize import sessionize
from data_warehouse_spark.queries.registry import register
from data_warehouse_spark.queries.util import money_sum_sql

GAP_SECONDS = 14400  # 4 h; events fixture has ~7.5 h median inter-event gap

# --- Planted valid-trip cohort (round-12, VERDICT r11 ask #1) ---------
#
# The parity check runs at sf0.01, where the events
# fixture's inter-event gaps (~7.5 h median) leave ZERO segments inside
# the reference's 60-3600 s gap window (trips_lambda.py:128) — so every
# e-family gate row hash-compared two EMPTY results: green, but unable
# to catch a value regression in the flagship ETL. The fixture dir is
# read-only, so the fix plants a deterministic cohort ENGINE-SIDE,
# identically on both sides of the parity check: the Spark chain unions
# these literal rows onto the events scan, and the oracle SQL unions
# the same literals via VALUES generated from THIS list (one source of
# truth — the two sides cannot drift).
#
# Design constraints, all load-bearing:
#   - user_ids are NEGATIVE: no fixture or amplified lane emits one, so
#     a planted row can never land in a real bike's lag window;
#   - constant size (3 bikes x 4 pings) at EVERY scale factor: sf0.1
#     and floor-free lanes shift by exactly +3 trips, a documented
#     constant, not a scale-dependent perturbation;
#   - each bike passes every validity gate (trips_lambda.py:128,
#     160-162): pings 300 s apart (inside 60-3600), moving each step
#     (value strictly increases => lat changes), 3 segments, 15 min
#     total duration (inside 1-60), distance > 0;
#   - values stay < 90 so lat = value % 90 = value bit-exactly in both
#     engines (no fmod edge); event_ids are chosen so e3's start
#     longitudes land one bike outside every region band (NULL
#     enrichment path) and two bikes inside bands 1 and 4 (join path);
#   - timestamps sit mid-2024, away from any Europe/Zurich DST
#     transition, so e1c's naive-local-time durations equal e1's.
_PLANTED_COLS = ("user_id", "event_type", "ts", "value", "event_id")
_PLANTED_EVENTS: list[tuple[int, str, str, float, int]] = [
    # bike -1: 'click'; start lon 170.00 -> outside every e3 band
    (-1, "click", "2024-06-15 10:00:00", 5.05, 900035000),
    (-1, "click", "2024-06-15 10:05:00", 6.06, 900035010),
    (-1, "click", "2024-06-15 10:10:00", 7.07, 900035020),
    (-1, "click", "2024-06-15 10:15:00", 8.08, 900035030),
    # bike -2: 'error'; start (lat 10.11, lon -150.00) -> e3 band 1
    (-2, "error", "2024-06-16 08:30:00", 10.11, 900003000),
    (-2, "error", "2024-06-16 08:35:00", 20.22, 900003010),
    (-2, "error", "2024-06-16 08:40:00", 30.33, 900003020),
    (-2, "error", "2024-06-16 08:45:00", 40.44, 900003030),
    # bike -3: 'purchase'; start (lat 50.55, lon -80.00) -> e3 band 4
    (-3, "purchase", "2024-07-01 22:10:00", 50.55, 900010000),
    (-3, "purchase", "2024-07-01 22:15:00", 51.55, 900010012),
    (-3, "purchase", "2024-07-01 22:20:00", 52.55, 900010024),
    (-3, "purchase", "2024-07-01 22:25:00", 53.55, 900010036),
]


def _planted_events_df(spark: SparkSession,
                       extra: tuple = ()) -> DataFrame:
    """The planted cohort as a Catalyst LocalRelation (SQL VALUES).

    Deliberately NOT `spark.createDataFrame(rows, ...)`: that path
    plans as a `Scan ExistingRDD` — a parallelize job plus a
    non-codegen scan that the round-13 bisect measured at ~+0.17 s on
    the e1 headline (median 0.79 s vs 0.70 s for the VALUES form at
    sf0.1). A VALUES literal folds into the plan as a LocalRelation:
    no job, no RDD, and the union stays inside whole-stage codegen."""
    vals = ", ".join(
        f"(CAST({int(u)} AS BIGINT), '{et}', TIMESTAMP '{ts}', "
        f"CAST({float(v)} AS DOUBLE), CAST({int(eid)} AS BIGINT))"
        for u, et, ts, v, eid in (*_PLANTED_EVENTS, *extra))
    return spark.sql(
        "SELECT * FROM (VALUES " + vals +
        ") AS planted(user_id, event_type, ts, value, event_id)")


def events_with_cohort(spark: SparkSession, sf_dir: str,
                       extra: tuple = ()) -> DataFrame:
    """The events scan narrowed to the trip columns + the planted
    cohort — the input every e-family query derives its fact from.
    `extra` appends query-family-specific planted rows (e4's January
    cohort) without disturbing the shared cohort every other e-query
    sees."""
    ev = load_table(spark, sf_dir, "events").select(*_PLANTED_COLS)
    return ev.unionByName(_planted_events_df(spark, extra))


def _planted_events_sql(extra: tuple = ()) -> str:
    """DuckDB twin of events_with_cohort: a derived table the oracle
    CTE heads read instead of bare `events`."""
    vals = ",\n      ".join(
        f"(CAST({u} AS BIGINT), '{et}', TIMESTAMP '{ts}', "
        f"CAST({v} AS DOUBLE), CAST({eid} AS BIGINT))"
        for u, et, ts, v, eid in (*_PLANTED_EVENTS, *extra))
    return (
        "(SELECT user_id, event_type, ts, value, event_id FROM events\n"
        "    UNION ALL\n"
        "    SELECT * FROM (VALUES\n      " + vals + "\n"
        "    ) AS planted(user_id, event_type, ts, value, event_id))")


@register(
    "w5_sessionize",
    oracle=f"""
WITH lagged AS (
    SELECT user_id, ts, value, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR (epoch_us(ts) - epoch_us(prev_ts)) > CAST({GAP_SECONDS} AS BIGINT) * 1000000
                   THEN 1 ELSE 0 END AS is_break
    FROM lagged
), ids AS (
    SELECT *, CAST(SUM(is_break) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec
FROM ids
GROUP BY user_id, session_id
HAVING COUNT(*) >= 2
""",
    doc="W5: gap-based sessionization (lag -> break flag -> running "
        "session id -> per-session agg). Reference: trips_lambda.py:95-163.",
    tags=("window", "flagship"),
)
def w5_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sessionize(events, key="user_id", ts="ts", gap_seconds=GAP_SECONDS,
                      value="value", order_tiebreak="event_id", min_events=2)


_E1_LAT = "value % 90"                              # deterministic pseudo-coords
_E1_LON = "(event_id % 36000) / 100.0 - 180.0"

# Tail of the trip-reconstruction CTE chain (segments -> aggregates ->
# validity filter) — shared verbatim by the UTC fact (e1/e1b/e2/e3) and
# the Europe/Zurich local-time variant (e1c), which differ only in the
# trip_data head.
_E1_SEGMENTS_SQL = f"""
trip_segments AS (
    SELECT bike_id, event_type,
           ts AS end_time, prev_time AS start_time,
           prev_lat AS start_lat, prev_lon AS start_lon,
           lat AS end_lat, lon AS end_lon,
           (epoch_us(ts) - epoch_us(prev_time)) AS seg_us,
           {haversine_km_sql('prev_lat', 'prev_lon', 'lat', 'lon')} AS distance_km
    FROM trip_data
    WHERE prev_time IS NOT NULL
      AND (epoch_us(ts) - epoch_us(prev_time)) / 1000000.0 BETWEEN 60 AND 3600
      AND (prev_lat != lat OR prev_lon != lon)
),
trip_aggregates AS (
    SELECT bike_id,
           MIN(event_type) AS provider_id,
           MIN(start_time) AS trip_start, MAX(end_time) AS trip_end,
           MIN(start_lat) AS start_lat, MIN(start_lon) AS start_lon,
           MAX(end_lat) AS end_lat, MAX(end_lon) AS end_lon,
           CAST(SUM(seg_us) AS BIGINT) / 60000000.0 AS total_duration,
           ROUND(SUM(distance_km), 6) AS total_distance,
           COUNT(*) AS segment_count
    FROM trip_segments
    GROUP BY bike_id
),
trips_fact AS (
    SELECT * FROM trip_aggregates
    WHERE total_duration >= 1 AND total_duration <= 60
      AND total_distance > 0 AND segment_count >= 2
)
"""

# DuckDB CTE chain shared by the e1 oracle and the e2 carbon oracle: the
# reference's trip-reconstruction pipeline up to the validated fact rows.
_E1_FACT_SQL = f"""
WITH trip_data AS (
    SELECT user_id AS bike_id, event_type, ts,
           {_E1_LAT} AS lat, {_E1_LON} AS lon,
           lag(ts)  OVER w AS prev_time,
           lag({_E1_LAT}) OVER w AS prev_lat,
           lag({_E1_LON}) OVER w AS prev_lon
    FROM {_planted_events_sql()} AS events_planted
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
""" + _E1_SEGMENTS_SQL

# e1c head: the reference's in-extract conversion (trips_lambda.py:
# 99,102 — `timestamp AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Zurich'`)
# applied to ts, while the window still orders by the UTC instant +
# event_id exactly as the reference orders by `timestamp` (local time
# is non-monotonic through a DST fall-back, so ordering by it would
# NOT be the reference's plan).
_E1C_FACT_SQL = f"""
WITH src AS (
    SELECT user_id, event_type, event_id, value, ts AS utc_ts,
           CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Zurich'
                AS TIMESTAMP) AS ts
    FROM {_planted_events_sql()} AS events_planted
),
trip_data AS (
    SELECT user_id AS bike_id, event_type, ts,
           {_E1_LAT} AS lat, {_E1_LON} AS lon,
           lag(ts)  OVER w AS prev_time,
           lag({_E1_LAT}) OVER w AS prev_lat,
           lag({_E1_LON}) OVER w AS prev_lon
    FROM src
    WINDOW w AS (PARTITION BY user_id ORDER BY utc_ts, event_id)
),
""" + _E1_SEGMENTS_SQL


@register(
    "e1_trips",
    oracle=_E1_FACT_SQL + """
SELECT ROUND(start_lat, 6) AS start_lat, ROUND(start_lon, 6) AS start_lon,
       ROUND(end_lat, 6) AS end_lat, ROUND(end_lon, 6) AS end_lon,
       bike_id, provider_id, trip_start, trip_end,
       total_duration, total_distance, segment_count
FROM trips_fact
ORDER BY trip_start
""",
    doc="E1: the reference's full trip-reconstruction ETL query "
        "(trips_lambda.py:94-164) re-expressed as one DataFrame chain: "
        "scan -> lag window -> gap/movement filter -> haversine -> "
        "group-agg -> validity filter -> sort. Deviation: provider_id is "
        "MIN(event_type) per bike (the fixture's event_type is not "
        "functionally dependent on user_id as provider_id was on bike_id); "
        "timestamps stay UTC (tz conversion covered by f1_timezone).",
    tags=("flagship", "etl"),
)
def e1_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _present_sorted(trips_fact(spark, sf_dir))


@register(
    "e1c_trips_localtime",
    oracle=_E1C_FACT_SQL + """
SELECT ROUND(start_lat, 6) AS start_lat, ROUND(start_lon, 6) AS start_lon,
       ROUND(end_lat, 6) AS end_lat, ROUND(end_lon, 6) AS end_lon,
       bike_id, provider_id, trip_start, trip_end,
       total_duration, total_distance, segment_count
FROM trips_fact
ORDER BY trip_start
""",
    doc="E1c: e1 with the reference's IN-EXTRACT timezone conversion "
        "applied — every timestamp is `AT TIME ZONE 'UTC' AT TIME ZONE "
        "'Europe/Zurich'` (trips_lambda.py:99,102), so all_trips parity "
        "with the reference is byte-for-byte (closes the one documented "
        "e1 deviation). Durations are differences of NAIVE local "
        "timestamps, exactly as the reference computes them: across a "
        "DST transition they shift by ±1h — reference behavior, "
        "reproduced, not fixed. The lag window still orders by the UTC "
        "instant (the reference orders by `timestamp`); local time "
        "would be non-monotonic through a fall-back.",
    tags=("flagship", "etl"),
)
def e1c_trips_localtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = (events_with_cohort(spark, sf_dir)
              .withColumn("__utc_ts", F.col("ts"))
              .withColumn("ts", F.from_utc_timestamp("ts", "Europe/Zurich")))
    return _present_sorted(trips_fact_from(events, order_col="__utc_ts"))


def _present_sorted(fact: DataFrame) -> DataFrame:
    """e1's presentation projection + the reference's ORDER BY
    trip_start (trips_lambda.py:163).

    The global sort is NOT applied directly to the aggregate chain:
    Spark's range-partitioned sort samples its child to pick range
    boundaries, and because the window+aggregate share one stage with
    no exchange between them and the sort, that sampling job would
    re-execute the entire scan->window->agg pipeline (measured 2x e1
    wall-clock at 256x amplification). Instead the fact — one row per
    bike, orders of magnitude smaller than the event log at any scale
    — is materialized with a lazy localCheckpoint, so the heavy chain
    runs once and the sampling + sort touch only fact rows.
    Trade-off: checkpoint blocks live in executor-local storage, so an
    executor loss during the final sort fails the job (no lineage
    replay) — acceptable for a presentation sort over the already-
    small fact; the durable path is U1's merge-write, which persists
    the fact before anything sorts it."""
    return (
        fact
        .select(
            F.round("start_lat", 6).alias("start_lat"),
            F.round("start_lon", 6).alias("start_lon"),
            F.round("end_lat", 6).alias("end_lat"),
            F.round("end_lon", 6).alias("end_lon"),
            "bike_id", "provider_id", "trip_start", "trip_end",
            "total_duration", "total_distance", "segment_count",
        )
        .localCheckpoint(eager=False)
        .orderBy("trip_start")
    )


def trips_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validated trips fact table (reference all_trips,
    trips_lambda.py:52-84) as a DataFrame chain over the events log
    (+ the planted cohort — see _PLANTED_EVENTS)."""
    return trips_fact_from(events_with_cohort(spark, sf_dir))


def trips_fact_from(events: DataFrame, order_col: str = "ts") -> DataFrame:
    """trips_fact over an arbitrary events DataFrame (plain or
    bucketed scan — e1b passes the bucketed layout through here).

    `order_col` is the window ordering column; e1c passes the original
    UTC instant while `ts` carries the Europe/Zurich wall clock, so the
    lag runs in the reference's order (trips_lambda.py:101 orders by
    `timestamp`, not the converted local_time)."""
    lat = (F.col("value") % 90).alias("lat")
    lon = ((F.col("event_id") % 36000) / 100.0 - 180.0).alias("lon")

    w = Window.partitionBy("bike_id").orderBy(order_col, "event_id")
    trip_data = events.select(
        F.col("user_id").alias("bike_id"), "event_type", "ts", "event_id", lat, lon,
        *([order_col] if order_col != "ts" else []),
    ).withColumns({
        "prev_time": F.lag("ts").over(w),
        "prev_lat": F.lag("lat").over(w),
        "prev_lon": F.lag("lon").over(w),
    })

    gap_sec = (F.unix_micros("ts") - F.unix_micros("prev_time")) / 1_000_000.0
    trip_segments = (
        trip_data
        .filter(F.col("prev_time").isNotNull()
                & gap_sec.between(60, 3600)
                & ((F.col("prev_lat") != F.col("lat"))
                   | (F.col("prev_lon") != F.col("lon"))))
        .select(
            "bike_id", "event_type",
            F.col("ts").alias("end_time"), F.col("prev_time").alias("start_time"),
            F.col("prev_lat").alias("start_lat"), F.col("prev_lon").alias("start_lon"),
            F.col("lat").alias("end_lat"), F.col("lon").alias("end_lon"),
            # keep durations in integer microseconds until after the SUM:
            # integer addition is order-independent, so the aggregate is
            # bit-exact across engines and shuffle orders (a float sum
            # then round() can straddle a decimal rounding boundary).
            (F.unix_micros("ts") - F.unix_micros("prev_time")).alias("seg_us"),
            haversine_km(F.col("prev_lat"), F.col("prev_lon"),
                         F.col("lat"), F.col("lon")).alias("distance_km"),
        )
    )

    trip_aggregates = trip_segments.groupBy("bike_id").agg(
        F.min("event_type").alias("provider_id"),
        F.min("start_time").alias("trip_start"),
        F.max("end_time").alias("trip_end"),
        F.min("start_lat").alias("start_lat"),
        F.min("start_lon").alias("start_lon"),
        F.max("end_lat").alias("end_lat"),
        F.max("end_lon").alias("end_lon"),
        (F.sum("seg_us") / F.lit(60000000.0)).alias("total_duration"),
        F.round(F.sum("distance_km"), 6).alias("total_distance"),
        F.count(F.lit(1)).alias("segment_count"),
    )

    return trip_aggregates.filter(
        (F.col("total_duration") >= 1) & (F.col("total_duration") <= 60)
        & (F.col("total_distance") > 0) & (F.col("segment_count") >= 2))


@register(
    "e1b_bucketed_trips",
    oracle=_E1_FACT_SQL + """
SELECT ROUND(start_lat, 6) AS start_lat, ROUND(start_lon, 6) AS start_lon,
       ROUND(end_lat, 6) AS end_lat, ROUND(end_lon, 6) AS end_lon,
       bike_id, provider_id, trip_start, trip_end,
       total_duration, total_distance, segment_count
FROM trips_fact
ORDER BY trip_start
""",
    doc="E1b: e1's trip reconstruction over a BUCKETED events layout — "
        "events hash-clustered on user_id and sorted by (user_id, ts, "
        "event_id) at write time (operators/bucketing.py), so the lag "
        "window and the per-bike aggregate run with NO Exchange and NO "
        "Sort: the scan itself satisfies both the window's distribution "
        "and its ordering. Same answer as e1 (identical oracle). This "
        "is the prescribed layout for the reference's daily-recurring "
        "sessionization (trips_lambda.py:218-221) at 100 TB — the "
        "shuffle is paid once at ingest, exactly like the reference's "
        "B-tree index on (bike_id, timestamp) (trips_lambda.py:81-84) "
        "pays its maintenance on insert. The bucketed materialization "
        "is session-cached per sf_dir (the warehouse's one-off ingest "
        "write).",
    tags=("flagship", "etl", "bucketed"),
)
def e1b_bucketed_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _present_sorted(trips_fact_from(_bucketed_planted_events(spark, sf_dir)))


def _bucketed_planted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed events layout WITH the planted cohort folded in at
    write time (not unioned at read time — a read-time union would put
    an operator between the bucketed scan and the window, forfeiting
    the exchange-free/sort-free plan that is e1b/e2b's entire point).
    The src_table name keys the session cache separately from any
    unplanted bucketed events layout."""
    from data_warehouse_spark.operators.bucketing import bucketed_view

    return bucketed_view(
        spark, sf_dir, "events_planted",
        lambda s, d, _t: events_with_cohort(s, d),
        ["user_id"], 32, sort_keys=["user_id", "ts", "event_id"])


# --- E3: the fully-enriched fact table -------------------------------
#
# The reference's all_trips schema carries eight enrichment columns
# (municipality, canton, vehicle_type, city, temperature, humidity,
# aqi, pm25 — trips_lambda.py:65-72) that NO reference code populates:
# they are the footprint of the [declared] spatial join
# (lambda_spatial_analysis.py, README.md:12,16) and weather enrichment
# (README.md:74-78). e3 composes the engine's own operators to fill
# them: e1 trips fact -> J9 point-in-polygon (municipality/canton) ->
# broadcast dims (canton/city/vehicle_type) -> J6 as-of weather join.
#
# Five regions tile the start-point space as longitude bands, each a
# rectangle with a V-notch cut into its top edge (concave, so a bbox
# test cannot fake containment). Bands are separated by 1-degree gaps
# and use .555 fractional bounds so fixture points (multiples of 0.01)
# never land exactly on an edge. The SQL oracle's edge table is
# generated from THIS literal, so the two sides cannot drift.
_E3_REGIONS: list[tuple[int, list[tuple[float, float]]]] = [
    (rid, [(x0, 88.555), ((x0 + x1) / 2, 60.555), (x1, 88.555),
           (x1, 0.555), (x0, 0.555)])
    for rid, (x0, x1) in enumerate([
        (-179.555, -157.555), (-156.555, -134.555), (-133.555, -111.555),
        (-110.555, -88.555), (-87.555, -65.555),
    ])
]

# Enrichment dimensions: region -> (municipality, canton, city), and
# provider -> vehicle_type. Broadcast-sized at any scale factor.
_E3_REGION_DIM: list[tuple[int, str, str, str]] = [
    (0, "Zuerich-West", "ZH", "Zuerich"),
    (1, "Bern-Mitte", "BE", "Bern"),
    (2, "Basel-Stadt", "BS", "Basel"),
    (3, "Luzern-Sued", "LU", "Luzern"),
    (4, "Geneve-Centre", "GE", "Geneve"),
]
_E3_VEHICLE_DIM: list[tuple[str, str]] = [
    ("click", "e-bike"), ("error", "e-scooter"), ("purchase", "bike"),
    ("signup", "cargo-bike"), ("view", "e-moped"),
]


def _e3_edges_sql() -> str:
    rows = []
    for rid, ring in _E3_REGIONS:
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append(f"({rid}, {x1}, {y1}, {x2}, {y2})")
    return ",\n  ".join(rows)


def _values_sql(rows: list[tuple]) -> str:
    def lit(v: object) -> str:
        return f"'{v}'" if isinstance(v, str) else str(v)
    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


@register(
    "e3_enriched_trips",
    oracle=_E1_FACT_SQL + f""",
edges(region_id, x1, y1, x2, y2) AS (VALUES
  {_e3_edges_sql()}
),
assign AS (
    SELECT t.bike_id, CAST(e.region_id AS BIGINT) AS region_id
    FROM trips_fact t JOIN edges e
      ON ((e.y1 > t.start_lat) <> (e.y2 > t.start_lat))
     AND t.start_lon < (e.x2 - e.x1) * (t.start_lat - e.y1)
                       / (e.y2 - e.y1) + e.x1
    GROUP BY t.bike_id, e.region_id
    HAVING COUNT(*) % 2 = 1
),
rdim(region_id, municipality, canton, city) AS (VALUES
  {_values_sql(_E3_REGION_DIM)}
),
vdim(provider_id, vehicle_type) AS (VALUES
  {_values_sql(_E3_VEHICLE_DIM)}
),
weather AS (
    SELECT event_id % 5 AS region_id, ts AS w_ts,
           ROUND(MAX(value % 40), 6) AS temperature,
           CAST(MAX(event_id % 100) AS BIGINT) AS humidity,
           CAST(MAX(event_id % 300) AS BIGINT) AS aqi,
           CAST(MAX(event_id % 150) AS BIGINT) AS pm25
    FROM events WHERE event_type = 'view'
    GROUP BY 1, 2
)
SELECT t.bike_id, t.provider_id, t.trip_start, t.trip_end,
       ROUND(t.start_lat, 6) AS start_lat, ROUND(t.start_lon, 6) AS start_lon,
       ROUND(t.end_lat, 6) AS end_lat, ROUND(t.end_lon, 6) AS end_lon,
       t.total_duration, t.total_distance, t.segment_count,
       r.municipality, r.canton, v.vehicle_type, r.city,
       w.temperature, w.humidity, w.aqi, w.pm25
FROM trips_fact t
LEFT JOIN assign a ON t.bike_id = a.bike_id
LEFT JOIN rdim r ON a.region_id = r.region_id
LEFT JOIN vdim v ON t.provider_id = v.provider_id
ASOF LEFT JOIN weather w
  ON a.region_id = w.region_id AND t.trip_start >= w.w_ts
""",
    doc="E3: the fully-enriched trips fact — every column of the "
        "reference's all_trips DDL (trips_lambda.py:52-84) populated, "
        "including the eight enrichment columns no reference code fills "
        "(trips_lambda.py:65-72; [declared] README.md:12-16,74-78). "
        "Composition under one plan: e1 trips fact -> J9 exact "
        "point-in-polygon on the trip start point (grid prefilter + "
        "ray-cast pandas UDF, operators/spatial.py) -> broadcast "
        "region/vehicle dims -> J6 as-of join to the nearest preceding "
        "weather reading per region (union + last(ignorenulls), one "
        "shuffle, operators/joins.py). Trips outside every region keep "
        "NULL enrichment (left-join semantics, exactly the reference's "
        "unfilled-column behavior). Scale: the fact is already "
        "aggregated (one row per bike-trip, orders of magnitude smaller "
        "than the event log); polygons and dims broadcast; the as-of "
        "shuffle is keyed on region_id over fact + weather rows only.",
    tags=("etl", "join", "spatial", "flagship"),
)
def e3_enriched_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.joins import asof_join
    from data_warehouse_spark.operators.spatial import point_in_polygon_exact

    # Materialize the fact ONCE (lazy localCheckpoint, the e1 sort-fix
    # pattern): this plan references `trips` from three join branches
    # (the spatial assign input, the enriched left side, and through
    # the as-of union), and Spark does no cross-branch common-subtree
    # reuse — unmaterialized, the whole events->window->agg chain
    # re-executed per branch (measured 5.8 s -> see SCALE.md round-7
    # note; the fact is bike-trip-sized, so the checkpoint is tiny).
    trips = trips_fact(spark, sf_dir).localCheckpoint(eager=False)

    polys = spark.createDataFrame(
        _E3_REGIONS,
        "region_id long, ring array<struct<lon: double, lat: double>>")
    assign = point_in_polygon_exact(
        trips.select("bike_id",
                     F.col("start_lat").alias("lat"),
                     F.col("start_lon").alias("lon")),
        polys, cell_deg=5.0,
    ).select("bike_id", "region_id")

    rdim = spark.createDataFrame(
        _E3_REGION_DIM, "region_id long, municipality string, canton string, city string")
    vdim = spark.createDataFrame(
        _E3_VEHICLE_DIM, "provider_id string, vehicle_type string")

    enriched = (
        trips
        .join(assign, "bike_id", "left")
        .join(F.broadcast(rdim), "region_id", "left")
        .join(F.broadcast(vdim), "provider_id", "left")
    )

    ev = load_table(spark, sf_dir, "events")
    weather = (
        ev.filter(F.col("event_type") == "view")
        .groupBy((F.col("event_id") % 5).alias("region_id"),
                 F.col("ts").alias("w_ts"))
        .agg(F.round(F.max(F.col("value") % 40), 6).alias("temperature"),
             F.max(F.col("event_id") % 100).alias("humidity"),
             F.max(F.col("event_id") % 300).alias("aqi"),
             F.max(F.col("event_id") % 150).alias("pm25"))
    )

    with_weather = asof_join(
        enriched, weather, on="region_id", left_ts="trip_start",
        right_ts="w_ts",
        value_cols=["temperature", "humidity", "aqi", "pm25"])

    return with_weather.select(
        "bike_id", "provider_id", "trip_start", "trip_end",
        F.round("start_lat", 6).alias("start_lat"),
        F.round("start_lon", 6).alias("start_lon"),
        F.round("end_lat", 6).alias("end_lat"),
        F.round("end_lon", 6).alias("end_lon"),
        "total_duration", "total_distance", "segment_count",
        "municipality", "canton", "vehicle_type", "city",
        "temperature", "humidity", "aqi", "pm25",
    )


# Published per-km CO2 factors: an average European passenger car emits
# ~192 g CO2/km (EEA new-car fleet figure); a shared (e-)bike's lifecycle
# footprint is ~22 g/km (ECF "Cycle more often" study). The single
# savings literal below (0.192 - 0.022 = 0.17 kg/km) is used verbatim in
# both engines so the float math is bit-identical.
CARBON_SAVINGS_KG_PER_KM = 0.17


@register(
    "e2_carbon_savings",
    oracle=_E1_FACT_SQL + f"""
SELECT provider_id,
       COUNT(*) AS n_trips,
       {money_sum_sql('total_distance', 1_000_000)} AS total_km,
       ROUND(({money_sum_sql('total_distance', 1_000_000)})
             * {CARBON_SAVINGS_KG_PER_KM}, 6) AS co2_saved_kg
FROM trips_fact
GROUP BY provider_id
ORDER BY provider_id
""",
    doc="E2: carbon-savings rollup — the reference's stated purpose "
        "(README.md:1-3) and declared-but-absent lambda_carbon_calc.py "
        "(README.md:15). Per-provider km ridden x published per-km "
        "CO2-saved-vs-car factor over the trips fact. Pure F3/F4 column "
        "math + A1 rollup. total_km sums in the integer MICRO-KM domain "
        "(per-bike distances carry exactly 6 decimals after e1's "
        "round): integer addition is order-independent, so the "
        "provider sum is bit-identical across engines and shuffle "
        "orders at any trip count — a float sum + ROUND could straddle "
        "a rounding boundary once providers aggregate many bikes.",
    tags=("etl", "carbon"),
)
def e2_carbon_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _carbon_rollup(trips_fact(spark, sf_dir))


def _carbon_rollup(fact: DataFrame) -> DataFrame:
    """Per-provider carbon rollup over a trips fact (shared by e2 and
    e2b — the only difference between them is the events layout the
    fact derives from)."""
    from data_warehouse_spark.queries.util import money_sum

    total_km = money_sum("total_distance", 1_000_000)
    return (
        fact
        .groupBy("provider_id")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            total_km.alias("total_km"),
            F.round(total_km * F.lit(CARBON_SAVINGS_KG_PER_KM), 6)
                .alias("co2_saved_kg"),
        )
        .orderBy("provider_id")
    )


@register(
    "e2b_carbon_bucketed",
    oracle=_E1_FACT_SQL + f"""
SELECT provider_id,
       COUNT(*) AS n_trips,
       {money_sum_sql('total_distance', 1_000_000)} AS total_km,
       ROUND(({money_sum_sql('total_distance', 1_000_000)})
             * {CARBON_SAVINGS_KG_PER_KM}, 6) AS co2_saved_kg
FROM trips_fact
GROUP BY provider_id
ORDER BY provider_id
""",
    doc="E2b: e2's carbon rollup run the way the PRODUCTION job would "
        "run it — off e1b's bucketed events layout (hash-clustered on "
        "user_id, sorted (user_id, ts, event_id) at write time). The "
        "reference's cadence is a recurring daily job (trips_lambda.py:"
        "218-221), so the sessionization's one Exchange+Sort is paid "
        "once at ingest and every daily rollup reads co-located, pre-"
        "sorted buckets: the lag window and per-bike aggregate run with "
        "NO Exchange and NO Sort (same plan shape test as e1b). Same "
        "answer as e2 (identical oracle).",
    tags=("etl", "carbon", "bucketed"),
)
def e2b_carbon_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _carbon_rollup(trips_fact_from(_bucketed_planted_events(spark, sf_dir)))


# --- E4: the composed daily run (round-12, VERDICT r11 ask #6) --------
#
# The registry proves each operator alone; the reference's actual daily
# cadence COMPOSES them (trips_lambda.py lambda_handler:218-246: window
# calc -> extract -> sessionize -> upsert; README.md:70). e4 registers
# that composition as one oracle-checked query: two consecutive daily
# runs, each = S8 partition-pruned day-window scan -> U2 redelivery
# dedup -> the e1 trip chain -> J6 as-of weather enrichment -> U1
# upsert into the U9 versioned store; the returned DataFrame is the
# committed day-2 state read back through the snapshot manifest.
#
# The fixture events span 2024-01-01..01-30, but their inter-event gaps
# leave the two chosen day windows without natural valid trips at the
# small gate scales, so e4 plants its own three-bike January extension
# on top of the shared cohort — one bike per upsert class:
#   bike -4 rides only day-1's window  -> carried forward untouched;
#   bike -5 rides the overlap day      -> day-2's version WINS the
#     upsert (the reference's re-scanned-24h ON CONFLICT DO UPDATE);
#   bike -6 rides only day-2's window  -> pure insert.
# Planted event_ids are ODD so the U2 redelivery injection (every even
# event_id re-arrives with a corrected value; latest wins) exercises
# dedup on natural rows without perturbing the planted geometry.
_E4_PLANTED: tuple[tuple[int, str, str, float, int], ...] = (
    (-4, "signup", "2024-01-15 10:00:00", 12.34, 900020001),
    (-4, "signup", "2024-01-15 10:05:00", 13.45, 900020011),
    (-4, "signup", "2024-01-15 10:10:00", 14.56, 900020021),
    (-4, "signup", "2024-01-15 10:15:00", 15.67, 900020031),
    (-5, "click", "2024-01-16 09:00:00", 21.11, 900021001),
    (-5, "click", "2024-01-16 09:05:00", 22.22, 900021011),
    (-5, "click", "2024-01-16 09:10:00", 23.33, 900021021),
    (-5, "click", "2024-01-16 09:15:00", 24.44, 900021031),
    (-6, "error", "2024-01-17 20:00:00", 31.01, 900022001),
    (-6, "error", "2024-01-17 20:05:00", 32.02, 900022011),
    (-6, "error", "2024-01-17 20:10:00", 33.03, 900022021),
    (-6, "error", "2024-01-17 20:15:00", 34.04, 900022031),
)

# Day-aligned sliding windows, overlapping on 2024-01-16 exactly like
# the reference's re-scanned 24h window overlaps yesterday's load.
_E4_W1 = ("2024-01-15", "2024-01-17")
_E4_W2 = ("2024-01-16", "2024-01-18")

_E4_PART_CACHE: dict[tuple, str] = {}


def _e4_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (+ shared and e4 cohorts) written dt-partitioned once per
    (sf_dir, fixture mtime) per session — the warehouse ingest layout
    whose partition pruning makes the daily re-scan O(1 day) at any
    total size (s8's discipline, including the mtime cache key that
    survives in-place fixture regeneration)."""
    import os
    import tempfile

    from data_warehouse_spark.io import write_partitioned

    key = (sf_dir, os.path.getmtime(f"{sf_dir}/events.parquet"))
    path = _E4_PART_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="dws_e4_") + "/events_dt"
        write_partitioned(
            events_with_cohort(spark, sf_dir, extra=_E4_PLANTED),
            path, ts_col="ts")
        _E4_PART_CACHE[key] = path
    return spark.read.parquet(path)


def _e4_days(window: tuple[str, str]) -> list[str]:
    import datetime as dt
    d0 = dt.date.fromisoformat(window[0])
    d1 = dt.date.fromisoformat(window[1])
    return [(d0 + dt.timedelta(days=i)).isoformat()
            for i in range((d1 - d0).days)]


def e4_daily_batch(spark: SparkSession, sf_dir: str,
                   window: tuple[str, str],
                   materialize: bool = True) -> DataFrame:
    """One day-run's cleaned batch: partition-pruned window scan + U2
    redelivery dedup, materialized ONCE (lazy localCheckpoint) because
    both the trip chain and the weather branch read it — e3's
    execute-the-chain-once discipline (test_plans.py).
    `materialize=False` returns the raw chain so plan tests can assert
    the scan shape the checkpoint would otherwise hide."""
    from data_warehouse_spark.operators.merge import dedup_latest

    ev = _e4_partitioned_events(spark, sf_dir)
    win = (ev.filter(F.col("dt").isin(_e4_days(window)))
           .select(*_PLANTED_COLS))
    # at-least-once redelivery: every even event_id arrives again with
    # a corrected value; dedup_latest keeps the latest (max) version
    # per observation id — U2's operator under deterministic keys.
    # The duplicate copies are exploded out of the ONE window scan (a
    # union of two filtered scans would read the day partition twice —
    # Catalyst shares no common subtree across union branches).
    batch = (win.withColumn("__copy", F.explode(
                F.when(F.col("event_id") % 2 == 0,
                       F.array(F.lit(0), F.lit(1)))
                .otherwise(F.array(F.lit(0)))))
             .withColumn("value",
                         F.when(F.col("__copy") == 1,
                                F.col("value") + 1000000)
                         .otherwise(F.col("value")))
             .drop("__copy"))
    deduped = dedup_latest(batch, keys=["user_id", "ts", "event_id"],
                           order_col="value")
    return deduped.localCheckpoint(eager=False) if materialize else deduped


def _e4_daily_run(spark: SparkSession, sf_dir: str,
                  window: tuple[str, str], tag: str) -> DataFrame:
    """One reference daily run over `window`: cleaned batch -> e1 trip
    chain -> as-of weather enrichment, tagged with the run id."""
    from data_warehouse_spark.operators.joins import asof_join

    batch = e4_daily_batch(spark, sf_dir, window)
    trips = trips_fact_from(batch) \
        .withColumn("region_id", F.col("bike_id") % 5)
    weather = (batch.filter(F.col("event_type") == "view")
               .groupBy((F.col("event_id") % 5).alias("region_id"),
                        F.col("ts").alias("w_ts"))
               .agg(F.round(F.max(F.col("value") % 40), 6)
                    .alias("temperature"),
                    F.max(F.col("event_id") % 300).alias("aqi")))
    out = asof_join(trips, weather, on="region_id",
                    left_ts="trip_start", right_ts="w_ts",
                    value_cols=["temperature", "aqi"])
    return out.select(
        "bike_id", "provider_id", "trip_start", "trip_end",
        "total_duration", "total_distance", "segment_count",
        "temperature", "aqi", F.lit(tag).alias("run"))


def _e4_day_sql(p: str, window: tuple[str, str], tag: str) -> str:
    """DuckDB replay of one daily run, CTE names prefixed `{p}_` so two
    runs compose in one WITH chain. Mirrors _E1_SEGMENTS_SQL's chain
    over the windowed+deduped batch, then the weather ASOF."""
    return f"""
{p}_win AS (
    SELECT user_id, event_type, ts, value, event_id
    FROM {_planted_events_sql(_E4_PLANTED)} AS ev
    WHERE ts >= TIMESTAMP '{window[0]} 00:00:00'
      AND ts <  TIMESTAMP '{window[1]} 00:00:00'
),
{p}_dedup AS (
    SELECT user_id, event_type, ts, MAX(value) AS value, event_id
    FROM (
        SELECT * FROM {p}_win
        UNION ALL
        SELECT user_id, event_type, ts, value + 1000000, event_id
        FROM {p}_win WHERE event_id % 2 = 0
    )
    GROUP BY user_id, event_type, ts, event_id
),
{p}_td AS (
    SELECT user_id AS bike_id, event_type, ts,
           {_E1_LAT} AS lat, {_E1_LON} AS lon,
           lag(ts)  OVER w AS prev_time,
           lag({_E1_LAT}) OVER w AS prev_lat,
           lag({_E1_LON}) OVER w AS prev_lon
    FROM {p}_dedup
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
{p}_seg AS (
    SELECT bike_id, event_type,
           ts AS end_time, prev_time AS start_time,
           (epoch_us(ts) - epoch_us(prev_time)) AS seg_us,
           {haversine_km_sql('prev_lat', 'prev_lon', 'lat', 'lon')} AS distance_km
    FROM {p}_td
    WHERE prev_time IS NOT NULL
      AND (epoch_us(ts) - epoch_us(prev_time)) / 1000000.0 BETWEEN 60 AND 3600
      AND (prev_lat != lat OR prev_lon != lon)
),
{p}_agg AS (
    SELECT bike_id,
           MIN(event_type) AS provider_id,
           MIN(start_time) AS trip_start, MAX(end_time) AS trip_end,
           CAST(SUM(seg_us) AS BIGINT) / 60000000.0 AS total_duration,
           ROUND(SUM(distance_km), 6) AS total_distance,
           COUNT(*) AS segment_count
    FROM {p}_seg
    GROUP BY bike_id
),
{p}_fact AS (
    SELECT *, bike_id % 5 AS region_id FROM {p}_agg
    WHERE total_duration >= 1 AND total_duration <= 60
      AND total_distance > 0 AND segment_count >= 2
),
{p}_weather AS (
    SELECT event_id % 5 AS region_id, ts AS w_ts,
           ROUND(MAX(value % 40), 6) AS temperature,
           CAST(MAX(event_id % 300) AS BIGINT) AS aqi
    FROM {p}_dedup WHERE event_type = 'view'
    GROUP BY 1, 2
),
{p}_out AS (
    SELECT f.bike_id, f.provider_id, f.trip_start, f.trip_end,
           f.total_duration, f.total_distance, f.segment_count,
           w.temperature, w.aqi, '{tag}' AS run
    FROM {p}_fact f
    ASOF LEFT JOIN {p}_weather w
      ON f.region_id = w.region_id AND f.trip_start >= w.w_ts
)"""


@register(
    "e4_daily_run",
    oracle="WITH " + _e4_day_sql("d1", _E4_W1, "d1") + ","
           + _e4_day_sql("d2", _E4_W2, "d2") + """
SELECT * FROM (
    SELECT * FROM d1_out o
    WHERE NOT EXISTS (SELECT 1 FROM d2_out n
                      WHERE n.bike_id = o.bike_id
                        AND n.trip_start = o.trip_start)
    UNION ALL
    SELECT * FROM d2_out
)
""",
    doc="E4 [r12]: the composed ETL DAY — the reference's actual "
        "recurring job (trips_lambda.py:218-246) under one registry "
        "entry, not operator-by-operator: day-window partition-pruned "
        "scan (S8) -> at-least-once redelivery dedup (U2) -> the e1 "
        "trip-reconstruction chain (W5/E1) -> as-of weather enrichment "
        "(J6) -> upsert into the snapshot-versioned trips store "
        "(U1 + U9, PK (bike_id, trip_start) exactly the reference's ON "
        "CONFLICT key), run for two consecutive overlapping windows; "
        "the result is the committed day-2 state read back through the "
        "manifest. The planted January cohort puts one bike in each "
        "upsert class (carry-forward / overlap-update / insert). "
        "Per-day plan discipline: the cleaned batch is checkpointed "
        "once and feeds BOTH the trip chain and the weather branch, so "
        "each day costs exactly one (pruned) scan — asserted in "
        "tests/test_plans.py.",
    tags=("flagship", "etl", "upsert"),
)
def e4_daily_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.merge import upsert
    from data_warehouse_spark.operators.snapshots import (
        read_snapshot, write_snapshot,
    )
    from data_warehouse_spark.queries.util import scratch_dir

    table_dir = scratch_dir("e4_state")
    d1 = _e4_daily_run(spark, sf_dir, _E4_W1, "d1")
    write_snapshot(d1, table_dir)
    v1 = read_snapshot(spark, table_dir, 1)
    d2 = _e4_daily_run(spark, sf_dir, _E4_W2, "d2")
    v2 = upsert(v1, d2, keys=["bike_id", "trip_start"])
    write_snapshot(v2, table_dir)
    return read_snapshot(spark, table_dir, 2)
