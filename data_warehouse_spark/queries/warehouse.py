"""Warehouse load-side operators (SURVEY §2.9 U1-U3, §2.1 S2-S6):
upsert/merge, key dedup, and the source/sink plumbing around them.

The oracles express the *result state* of each load operation as a
plain query, so the driver can hash-compare materialized semantics.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.operators.merge import (
    dedup_latest, incremental_rollup, upsert,
)
from data_warehouse_spark.queries.registry import register
from data_warehouse_spark.queries.util import cents, scratch_dir
from data_warehouse_spark.sources.rest_json import (
    fetch_air_quality, gbfs_sample_frame, parse_gbfs,
)

# ---------------------------------------------------------------------------
# U1: upsert. Scenario: "old" = orders before 1998, "new" = orders from
# 1997 on with a recomputed status — overlapping year 1997 must take the
# new version, pre-1997 keys survive, post-1998 keys insert.


@register(
    "u1_upsert",
    oracle="""
WITH old AS (
    SELECT o_orderkey, o_custkey, o_totalprice, 'v1' AS version
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), new AS (
    SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice, 'v2' AS version
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
)
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS o_totalprice, version
FROM (
    SELECT * FROM old WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new)
    UNION ALL
    SELECT * FROM new
)
""",
    doc="U1: INSERT ... ON CONFLICT DO UPDATE (trips_lambda.py:180-206) "
        "as left-anti + union (operators/merge.py). The sliding-window "
        "overlap (1997) is exactly the reference's re-scanned 24h window.",
    tags=("upsert",),
)
def u1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")) \
        .select("o_orderkey", "o_custkey", "o_totalprice", F.lit("v1").alias("version"))
    new = orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")) \
        .select("o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
                F.lit("v2").alias("version"))
    # new derives from orders' PK — o_orderkey is unique at every SF
    # (COUNT == COUNT DISTINCT on all three fixtures, and the oracle's
    # NOT IN subquery likewise assumes key semantics) — so the
    # batch-dedup pass is skipped: drops the partial+final
    # SortAggregate + its exchange from the plan (r16,
    # ddece72:plans/r16/u1_upsert_{before,after}.txt)
    merged = upsert(old, new, keys=["o_orderkey"], new_unique=True)
    return merged.select("o_orderkey", "o_custkey",
                         F.round("o_totalprice", 6).alias("o_totalprice"), "version")


@register(
    "u2_dedup_latest",
    oracle="""
WITH doubled AS (
    SELECT user_id, event_type, ts, value FROM events
    UNION ALL
    SELECT user_id, event_type, ts, value + 1000000 AS value
    FROM events WHERE event_id % 2 = 0
)
SELECT user_id, event_type, ts, MAX(value) AS value
FROM doubled GROUP BY user_id, event_type, ts
""",
    doc="U2: key-based dedup (PK(bike_id,timestamp) rejection, "
        "bike_lambda.py:46). Duplicate snapshots are injected (every "
        "even event re-arrives with a bumped value); dedup_latest keeps "
        "the newest version per (user, type, ts) — expressed in the "
        "oracle as MAX per key since the bumped value always wins.",
    tags=("upsert",),
)
def u2_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value", "event_id")
    dups = ev.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") + 1000000)
    doubled = ev.unionByName(dups)
    out = dedup_latest(doubled, keys=["user_id", "event_type", "ts"],
                       order_col="value")
    return out.select("user_id", "event_type", "ts", "value")


# ---------------------------------------------------------------------------
# Sources / sinks


@register(
    "s2_rest_json_source",
    oracle="""
SELECT * FROM (VALUES
  ('b1', 'p1', 47.37, 8.54, false, false, TIMESTAMP '2023-11-14 22:13:20'),
  ('b2', 'p1', 46.95, 7.45, true,  false, TIMESTAMP '2023-11-14 22:13:20'),
  ('b3', 'p2', 46.20, 6.14, false, true,  TIMESTAMP '2023-11-14 22:13:20')
) AS t(bike_id, provider_id, lat, lon, is_reserved, is_disabled, observed_at)
""",
    doc="S2: REST/JSON snapshot source (GBFS free_bike_status, "
        "bike_lambda.py:20,54-58). The HTTP GET is orchestration; the "
        "engine part — from_json with explicit schema, nested array "
        "explode, field projection — runs here on an embedded sample "
        "payload (network is stubbed in this environment).",
    tags=("source",),
)
def s2_rest_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_gbfs(gbfs_sample_frame(spark))


@register(
    "s3_parallel_fetch",
    oracle="""
SELECT * FROM (VALUES
  ('Zurich',   42,  9.0, 50, 18),
  ('Bern',     28,  6.0, 50, 12),
  ('Geneva',   42,  9.0, 50, 18),
  ('Basel',    35,  7.5, 50, 15),
  ('Lausanne', 56, 12.0, 50, 24),
  ('Lugano',   42,  9.0, 50, 18)
) AS t(city, aqi, temperature, humidity, pm25)
""",
    doc="S3: parallel per-city fan-out fetch (air_lambda.py:37-60,79-88; "
        "ThreadPool(3)). Spark-native: the city list is a DataFrame, "
        "repartitioned so each task fetches one city inside "
        "mapInPandas — parallelism is executor-task parallelism "
        "(default min(n_keys, defaultParallelism), one task per key at "
        "cluster scale), not client threads. The fetch itself is "
        "stubbed deterministically (container has no network); the "
        "partitioning + batch plumbing is real.",
    tags=("source",),
)
def s3_parallel_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cities = spark.createDataFrame(
        [("Zurich",), ("Bern",), ("Geneva",), ("Basel",), ("Lausanne",), ("Lugano",)],
        ["city"],
    )
    return fetch_air_quality(cities)


@register(
    "s4_csv_roundtrip",
    oracle="""
SELECT c_mktsegment AS segment, COUNT(*) AS n, MIN(c_custkey) AS min_key
FROM customer GROUP BY c_mktsegment
""",
    doc="S4+S5: CSV sink with header + append re-read (notebook cells "
        "0-1 write swiss_weather_data.csv). Writes a real CSV to a temp "
        "dir, reads it back with explicit schema, aggregates — so the "
        "oracle checks the full write->read cycle preserved the data.",
    tags=("sink",),
)
def s4_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    out = scratch_dir("s4_csv")
    cust.select("c_custkey", "c_mktsegment").write.mode("overwrite") \
        .option("header", True).csv(out)
    back = spark.read.option("header", True) \
        .schema("c_custkey long, c_mktsegment string").csv(out)
    return back.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("min_key"))


@register(
    "s5_append_sink",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM (SELECT event_type FROM events WHERE event_id % 3 = 0
      UNION ALL
      SELECT event_type FROM events WHERE event_id % 3 = 1)
GROUP BY event_type
""",
    doc="S5: batched append sink (execute_batch, bike_lambda.py:75-80). "
        "Two batch appends into a parquet dir, then re-read + count: "
        "append mode is task-atomic parquet file adds, the engine "
        "equivalent of the reference's batched INSERT+commit.",
    tags=("sink",),
)
def s5_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = scratch_dir("s5_append")
    ev.filter(F.col("event_id") % 3 == 0).select("event_id", "event_type") \
        .write.mode("overwrite").parquet(out)
    ev.filter(F.col("event_id") % 3 == 1).select("event_id", "event_type") \
        .write.mode("append").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "u7_incremental_rollup",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM events GROUP BY event_type
""",
    doc="U7 [cap]: incremental materialized-aggregate maintenance — a "
        "batch's pre-aggregated delta full-outer-merged into the "
        "existing rollup (operators/merge.py:incremental_rollup), so "
        "the nightly report never re-scans history (the reference's "
        "dashboards recompute from scratch, README.md:81-83). The "
        "oracle is the FULL recompute over all events: merge-equals-"
        "rebuild is the contract, and it holds exactly because the "
        "measures are mergeable monoids in integer domain (count-as-"
        "sum, cents sum, min, max).",
    tags=("merge",),
)
def u7_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", "value")
    # deterministic history/new-batch split: the 20% "tonight's batch"
    history = ev.filter(F.col("event_id") % 5 != 0)
    batch = ev.filter(F.col("event_id") % 5 == 0)

    def roll(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"))

    merged = incremental_rollup(
        roll(history), roll(batch), keys=["event_type"],
        merges={"n": "sum", "sum_cents": "sum",
                "min_value": "min", "max_value": "max"})
    return merged.select(
        "event_type", "n", "sum_cents",
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"))


@register(
    "u9_time_travel",
    oracle="""
WITH v1 AS (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01'
), updates AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), v2 AS (
    SELECT * FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    UNION ALL
    SELECT * FROM updates
), tagged AS (
    SELECT 1 AS version, * FROM v1
    UNION ALL
    SELECT 2 AS version, * FROM v2
)
SELECT version, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price,
       MIN(o_orderkey) AS min_key
FROM tagged GROUP BY version
""",
    doc="U9 [cap]: snapshot versioning + time travel "
        "(operators/snapshots.py) — the audit capability the "
        "reference's in-place ON CONFLICT load destroys "
        "(trips_lambda.py:180-206): after tonight's upsert, "
        "yesterday's state is gone. Two committed versions (v1 = "
        "pre-1997 orders; v2 = v1 upserted with revised 1996+ prices), "
        "then BOTH read back via the manifest — aggregating each "
        "proves v1 is bit-intact AFTER v2's commit. Writes are "
        "immutable data dirs + an atomically-renamed JSON manifest "
        "(the Delta/Iceberg core mechanic, no dependency), so time "
        "travel is a metadata operation at any table size.",
    tags=("upsert", "warehouse"),
)
def u9_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.snapshots import (
        read_snapshot, write_snapshot,
    )
    table_dir = scratch_dir("u9_snapshots")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")) \
        .select("o_orderkey", "o_totalprice")
    write_snapshot(v1, table_dir)
    updates = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) \
        .select("o_orderkey",
                (F.col("o_totalprice") * 1.1).alias("o_totalprice"))
    v2 = upsert(read_snapshot(spark, table_dir, 1), updates,
                keys=["o_orderkey"])
    write_snapshot(v2, table_dir)
    tagged = (read_snapshot(spark, table_dir, 1)
              .withColumn("version", F.lit(1))
              .unionByName(read_snapshot(spark, table_dir, 2)
                           .withColumn("version", F.lit(2))))
    return (tagged.groupBy("version")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(cents("o_totalprice")) / F.lit(100.0))
                 .alias("sum_price"),
                 F.min("o_orderkey").alias("min_key")))


@register(
    "u9b_snapshot_diff",
    oracle="""
WITH v1 AS (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01'
), updates AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), v2 AS (
    SELECT * FROM (
        SELECT * FROM v1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    ) WHERE o_orderkey % 97 <> 0
), diff AS (
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
                     THEN 'update' END AS change_type,
           n.o_totalprice AS new_price, o.o_totalprice AS old_price
    FROM v2 n FULL OUTER JOIN v1 o ON n.o_orderkey = o.o_orderkey
)
SELECT o_orderkey, change_type,
       ROUND(new_price, 6) AS new_price, ROUND(old_price, 6) AS old_price
FROM diff WHERE change_type IS NOT NULL
""",
    doc="U9b [cap]: CDC-style snapshot diff "
        "(operators/snapshots.py:snapshot_changes) — the incremental-"
        "consumer read (Delta CDF / Iceberg incremental scan): a "
        "downstream job that processed v1 gets exactly what changed by "
        "v2 (insert/update/delete per key), never a history rescan. "
        "v2 = v1 upserted with revised 1996+ prices MINUS a retention "
        "delete (key % 97), so all three change classes appear. One "
        "null-safe full-outer join on the PK — O(|v1|+|v2|) at any "
        "table size.",
    tags=("upsert", "warehouse"),
)
def u9b_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.snapshots import (
        snapshot_changes, write_snapshot,
    )
    table_dir = scratch_dir("u9b_snapshots")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")) \
        .select("o_orderkey", "o_totalprice")
    write_snapshot(v1, table_dir)
    updates = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) \
        .select("o_orderkey",
                (F.col("o_totalprice") * 1.1).alias("o_totalprice"))
    v2 = upsert(v1, updates, keys=["o_orderkey"]) \
        .filter(F.col("o_orderkey") % 97 != 0)
    write_snapshot(v2, table_dir)
    diff = snapshot_changes(spark, table_dir, 1, 2, keys=["o_orderkey"])
    return diff.select(
        "o_orderkey", "change_type",
        F.round("new_o_totalprice", 6).alias("new_price"),
        F.round("old_o_totalprice", 6).alias("old_price"))


@register(
    "s11_schema_evolution",
    oracle="""
WITH unioned AS (
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
)
SELECT (o_orderpriority IS NOT NULL) AS has_priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price,
       MIN(o_orderkey) AS min_key
FROM unioned GROUP BY (o_orderpriority IS NOT NULL)
""",
    doc="S11 [cap]: schema-evolution read — a table whose later batches "
        "added a column (the normal life of any long-lived log: the "
        "reference's DDL would need ALTER TABLE; a parquet lake just "
        "starts writing the wider files). Batch 1 lands without "
        "o_orderpriority, batch 2 with it; the read uses mergeSchema=true so "
        "ONE scan reconciles both footers and old rows surface NULL "
        "for the new column. The aggregate groups by column presence, "
        "certifying that evolution neither lost rows nor leaked "
        "values across batches. At 100 TB, schema merging is a "
        "footer-level planning cost (per file, driver-side) — the "
        "scan itself is unchanged; pin an explicit schema once the "
        "layout stabilizes to avoid even that.",
    tags=("source",),
)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("s11_evolve")
    orders.filter(F.col("o_orderkey") % 2 == 0) \
        .select("o_orderkey", "o_totalprice") \
        .write.mode("append").parquet(out)
    orders.filter(F.col("o_orderkey") % 2 == 1) \
        .select("o_orderkey", "o_totalprice", "o_orderpriority") \
        .write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return (back.groupBy(F.col("o_orderpriority").isNotNull().alias("has_priority"))
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(cents("o_totalprice")) / F.lit(100.0))
                 .alias("sum_price"),
                 F.min("o_orderkey").alias("min_key")))


@register(
    "dq1_validation_report",
    oracle="""
WITH redelivered AS (
    SELECT event_id, ts, event_type, value, props FROM events
    UNION ALL
    SELECT event_id, ts, event_type, value, props FROM events
    WHERE event_id % 499 = 0
), corrupted AS (
    SELECT event_id,
           CASE WHEN event_id % 991 = 0 THEN NULL ELSE ts END AS ts,
           CASE WHEN event_id % 1009 = 0 THEN 'unknown'
                ELSE event_type END AS event_type,
           CASE WHEN event_id % 997 = 0 THEN -value ELSE value END AS value,
           CASE WHEN event_id % 1013 = 0 THEN '{}' ELSE props END AS props
    FROM redelivered
)
SELECT rule, n_violations, n_rows FROM (
    SELECT 'ts_not_null' AS rule,
           CAST(COUNT(*) FILTER (WHERE (ts IS NOT NULL) IS NOT TRUE) AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM corrupted
    UNION ALL
    SELECT 'value_positive',
           CAST(COUNT(*) FILTER (WHERE (value > 0) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'event_type_in_domain',
           CAST(COUNT(*) FILTER (WHERE (event_type IN
               ('click','error','purchase','signup','view')) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'purchase_props_have_k',
           CAST(COUNT(*) FILTER (WHERE (event_type <> 'purchase'
               OR json_extract_string(props, '$.k') IS NOT NULL) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'event_id_unique',
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
)
""",
    doc="DQ1: declarative data-validation report — the reference's "
        "declared utils/data_validation.py (README.md:21), whose "
        "actual machinery is DB constraints + inline validity filters "
        "(bike_lambda.py:46, trips_lambda.py:128,160-162). The fixture "
        "log is clean, so the query PLANTS deterministic corruption "
        "(the x11 pattern — null timestamps, negative amounts, "
        "out-of-domain types, emptied JSON, re-delivered PK dups, all "
        "keyed on event_id primes) and certifies the checks catch "
        "exactly those rows. All row rules evaluate in ONE scan "
        "(operators/validation.py); NULL rule results count as "
        "violations on both engines (IS NOT TRUE / when-otherwise).",
    tags=("warehouse",),
)
def dq1_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.validation import validation_report
    return validation_report(_dq_corrupted_log(spark, sf_dir),
                             rules=_dq_rules(), unique_key=["event_id"])


def _dq_corrupted_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1/DQ1b shared fixture: the events log with deterministic
    planted corruption (x11 pattern) — re-delivered PK dups (~0.2%),
    null timestamps, out-of-domain types, negated amounts, emptied
    JSON, all keyed on event_id primes so both engines replay it."""
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "ts", "event_type", "value", "props")
    log = ev.unionByName(ev.filter(F.col("event_id") % 499 == 0))
    eid = F.col("event_id")
    return (log
            .withColumn("ts", F.when(eid % 991 == 0, None).otherwise(F.col("ts")))
            .withColumn("event_type", F.when(eid % 1009 == 0, "unknown")
                        .otherwise(F.col("event_type")))
            .withColumn("value", F.when(eid % 997 == 0, -F.col("value"))
                        .otherwise(F.col("value")))
            .withColumn("props", F.when(eid % 1013 == 0, "{}")
                        .otherwise(F.col("props"))))


def _dq_rules() -> dict:
    return {
        "ts_not_null": F.col("ts").isNotNull(),
        "value_positive": F.col("value") > 0,
        "event_type_in_domain": F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view"),
        "purchase_props_have_k":
            (F.col("event_type") != "purchase")
            | F.get_json_object("props", "$.k").isNotNull(),
    }


@register(
    "dq1b_validation_sketch",
    oracle="""
WITH redelivered AS (
    SELECT event_id, ts, event_type, value, props FROM events
    UNION ALL
    SELECT event_id, ts, event_type, value, props FROM events
    WHERE event_id % 499 = 0
), corrupted AS (
    SELECT event_id,
           CASE WHEN event_id % 991 = 0 THEN NULL ELSE ts END AS ts,
           CASE WHEN event_id % 1009 = 0 THEN 'unknown'
                ELSE event_type END AS event_type,
           CASE WHEN event_id % 997 = 0 THEN -value ELSE value END AS value,
           CASE WHEN event_id % 1013 = 0 THEN '{}' ELSE props END AS props
    FROM redelivered
)
SELECT rule, n_violations, n_rows FROM (
    SELECT 'ts_not_null' AS rule,
           CAST(COUNT(*) FILTER (WHERE (ts IS NOT NULL) IS NOT TRUE) AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM corrupted
    UNION ALL
    SELECT 'value_positive',
           CAST(COUNT(*) FILTER (WHERE (value > 0) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'event_type_in_domain',
           CAST(COUNT(*) FILTER (WHERE (event_type IN
               ('click','error','purchase','signup','view')) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'purchase_props_have_k',
           CAST(COUNT(*) FILTER (WHERE (event_type <> 'purchase'
               OR json_extract_string(props, '$.k') IS NOT NULL) IS NOT TRUE) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
    UNION ALL
    SELECT 'event_id_near_unique',
           -- ROW(event_id): NULL-is-one-key, mirroring the Spark
           -- side's struct(event_id) wrap (r11 advice fix — a bare
           -- column's approx_count_distinct IGNORES null keys in both
           -- engines, so the verdicts would diverge structurally if
           -- fixtures ever gained NULL event_ids)
           CAST(CASE WHEN COUNT(*) - approx_count_distinct(ROW(event_id))
                          <= 0.08 * approx_count_distinct(ROW(event_id))
                THEN 0 ELSE 1 END AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM corrupted
)
""",
    doc="DQ1b [ext]: the validation report the way the 100 TB daily "
        "job runs it — same one-scan row rules as DQ1, but uniqueness "
        "via approx_count_distinct riding the SAME aggregate "
        "(operators/validation.py uniqueness='sketch'): NO exact "
        "COUNT(DISTINCT) anywhere, which was DQ1's honest 4096x "
        "negative (3.93, a4-class exact-distinct shuffle over 410M "
        "ids; SCALE.md prescribed exactly this sketch). The uniqueness "
        "row is a VERDICT — n_violations 0 iff duplicate mass <= "
        "4 rsd * est (8% of distinct keys) — a data claim both engines "
        "evaluate with their OWN HLL sketches (raw estimates differ "
        "bit-for-bit; ~0.4% planted dup mass sits far inside the "
        "band on both). Near-band data is out of contract (a8-class "
        "note); DQ1 stays registered as the exact audit form.",
    tags=("warehouse", "approx"),
)
def dq1b_validation_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.validation import validation_report
    return validation_report(_dq_corrupted_log(spark, sf_dir),
                             rules=_dq_rules(), unique_key=["event_id"],
                             uniqueness="sketch")


@register(
    "a12_sketch_rollup",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_distinct_users,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       TRUE AS est_within_4sigma,
       TRUE AS union_equals_single
FROM events GROUP BY event_type
""",
    # The raw HLL estimate is sketch-library-specific and can't hash-
    # match DuckDB — but the CONTRACT can: the exact distinct count,
    # plus boolean verdicts that (a) the union-of-daily-sketches
    # estimate lands within 4 sigma of exact (rsd = 1.04/sqrt(2^lgK);
    # 4 rsd certified so a fixture regen can't fail the gate on a
    # 3-4 rsd draw — the tighter 3 rsd check stays in pytest)
    # and (b) union-of-daily-sketches == one global sketch (register-
    # wise max is associative; equality also pytest-proven in
    # tests/test_llm_queries.py). The oracle replays the exact branch
    # and literal TRUE, making the sketch contract driver-certifiable.
    doc="A12 [cap]: mergeable-sketch distinct rollup — the distinct-"
        "count complement of U7, whose merge contract explicitly "
        "excludes COUNT(DISTINCT) because it is not a monoid on raw "
        "values. Datasketches HLL makes it one: per-(event_type, day) "
        "user sketches aggregate in one pass (hll_sketch_agg, "
        "map-side combined like any agg buffer), then hll_union_agg "
        "merges days into per-type totals WITHOUT rescanning events. "
        "At 100 TB the daily sketch table (a few KB per group) is the "
        "persisted artifact: any date-range distinct query unions "
        "sketches instead of re-shuffling raw user ids, and late "
        "partitions fold in by re-sketching one day. Estimates are "
        "deterministic (no RNG in HLL), so results are stable across "
        "runs and partitionings.",
    tags=("agg", "merge"),
)
def a12_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.to_date("ts").alias("day"), F.col("user_id"))
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count(F.lit(1)).alias("n_events"))
    rolled = (daily.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                       F.hll_union_agg("sk", F.lit(False)))
                   .alias("est_distinct_users"),
                   F.sum("n_events").cast("long").alias("n_events"),
                   # count("day"), not count(*): a NULL-ts row would
                   # form a day=NULL group that COUNT(DISTINCT CAST(ts
                   # AS DATE)) in the oracle skips — the same latent
                   # NULL-fixture hash mismatch the eqNullSafe join
                   # below closes (r10 review finding). Its users still
                   # fold into the sketch union, matching the oracle's
                   # unfiltered COUNT(DISTINCT user_id).
                   F.count("day").alias("n_days")))
    # The certification branch: one global sketch (what the rollup must
    # equal) and the exact distinct count (what the estimate must be
    # within 4 rsd of). 5 groups -> both joins broadcast; at 100 TB
    # this branch is the AUDIT query, run at onboarding, not daily.
    single = (ev.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                       F.hll_sketch_agg("user_id", F.lit(12)))
                   .alias("est_single"),
                   F.countDistinct("user_id")
                   .alias("exact_distinct_users")))
    rsd = 1.04 / (2.0 ** 6)  # lgK=12: rsd = 1.04 / sqrt(2^12)
    # eqNullSafe (round-10 advice fix): a plain inner equi-join would
    # silently DROP a NULL event_type group that the oracle's GROUP BY
    # keeps — latent hash mismatch if fixtures ever gain NULL types.
    # <=> is still an equi-condition, so the 5-row side broadcasts.
    # Certified bound is 4 rsd (regen-safe: a fixture redraw has a
    # small per-group chance of a >3 rsd HLL estimate with no code
    # defect); the tighter 3 rsd check stays in pytest
    # (tests/test_llm_queries.py).
    return (rolled.alias("r")
            .join(single.alias("s"),
                  F.col("r.event_type").eqNullSafe(F.col("s.event_type")))
            .select(F.col("r.event_type").alias("event_type"),
                    "exact_distinct_users", "n_events", "n_days",
                    (F.abs(F.col("est_distinct_users")
                           - F.col("exact_distinct_users"))
                     <= 4 * rsd * F.col("exact_distinct_users"))
                    .alias("est_within_4sigma"),
                    (F.col("est_distinct_users") == F.col("est_single"))
                    .alias("union_equals_single")))


@register(
    "s9_jsonl_roundtrip",
    oracle="""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc
FROM documents GROUP BY lang
""",
    doc="S9 [cap]: JSON-lines sink + source roundtrip — the raw-payload "
        "landing format an ingest pipeline writes before shredding "
        "(sources/files.py:read_json_lines; the reference ingests "
        "parsed REST JSON, air_lambda.py). Writes real JSONL to a temp "
        "dir including the free-text column (exercising JSON string "
        "escaping), reads it back with an explicit schema — never "
        "inferSchema, which would double the scan at 100 TB — and "
        "aggregates, so the oracle certifies the full write->read "
        "cycle preserved every row.",
    tags=("sink",),
)
def s9_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir("s9_jsonl")
    docs.select("doc_id", "text", "lang", "n_chars") \
        .write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, n_chars long").json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"))


@register(
    "s10_orc_roundtrip",
    oracle="""
SELECT o_orderstatus AS status, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderstatus
""",
    doc="S10 [cap]: ORC sink + source roundtrip — the second columnar "
        "format a Spark warehouse serves alongside parquet (native "
        "writer, predicate pushdown and column pruning both apply). "
        "Integer-cents sum per parity_notes rule (exact under any "
        "parallelism), certifying the write->read cycle bit-preserved "
        "the money column.",
    tags=("sink",),
)
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("s10_orc")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice") \
        .write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double").orc(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice")).alias("total_cents"))


@register(
    "s6_ddl_table",
    oracle="SELECT 5 AS n_regions",
    doc="S6: idempotent DDL (CREATE TABLE IF NOT EXISTS + indexes, "
        "trips_lambda.py:49-89). Spark SQL DDL over a temp view; the "
        "index DDL maps to partitioning spec, not a statement (SURVEY "
        "§4). Runs CREATE OR REPLACE twice to prove idempotency, then "
        "counts through the created object.",
    tags=("ddl",),
)
def s6_ddl_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    region.createOrReplaceTempView("s6_region_src")
    for _ in range(2):  # idempotent re-run, like CREATE TABLE IF NOT EXISTS
        spark.sql("CREATE OR REPLACE TEMPORARY VIEW s6_region AS "
                  "SELECT * FROM s6_region_src")
    return spark.sql("SELECT CAST(COUNT(*) AS INT) AS n_regions FROM s6_region")


_S8_CACHE: dict[tuple, str] = {}


def _s8_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dt-partitioned events copy s8/s8b scan — written once per
    (sf_dir, source mtime) per session, like a warehouse's ingest.
    The cache key includes the source file's mtime: fixtures are
    regenerated IN PLACE between driver rounds (llm_vector._query_vecs
    documents the same hazard), so a long-lived process must re-derive
    the partitioned copy when events.parquet changes — a path-only key
    would keep serving the previous generation."""
    import os

    from data_warehouse_spark.io import write_partitioned

    key = (sf_dir, os.path.getmtime(f"{sf_dir}/events.parquet"))
    path = _S8_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="dws_s8_") + "/events_dt"
        write_partitioned(load_table(spark, sf_dir, "events"), path,
                          ts_col="ts")
        _S8_CACHE[key] = path
    return spark.read.parquet(path)


@register(
    "s8_partition_pruned_scan",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
GROUP BY event_type
""",
    doc="S8: partition-pruned scan over a dt-partitioned table — the "
        "100 TB daily-run pattern (reference: 24h sliding re-scan, "
        "trips_lambda.py:106,218-221; its B-tree time index maps to "
        "hive partitioning, SURVEY §4). Events are written partitioned "
        "by dt=to_date(ts) (io.write_partitioned, cached per sf_dir "
        "per session like a warehouse's ingest), then a two-day dt "
        "filter aggregates: the scan plans only the 2 matching "
        "partitions (PartitionFilters, asserted in tests/test_plans."
        "py) — a daily job touches O(1 day) of data at any total size.",
    tags=("source", "pruning"),
)
def s8_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _s8_partitioned_events(spark, sf_dir)
    return (ev.filter(F.col("dt").isin("2024-01-10", "2024-01-11"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


@register(
    "s8b_dpp_scan",
    oracle="""
WITH counts AS (
    SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS n_day
    FROM events GROUP BY 1
), days AS (
    SELECT dt FROM counts
    WHERE n_day >= (SELECT MIN(n_day) FROM
                    (SELECT n_day FROM counts
                     ORDER BY n_day DESC LIMIT 10))
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events e JOIN days d ON CAST(e.ts AS DATE) = d.dt
GROUP BY event_type
""",
    doc="S8b [cap]: DYNAMIC partition pruning — the backfill shape "
        "('reprocess the 10 busiest days') where the partitions to "
        "touch are only known at RUNTIME: the dim side is an "
        "aggregate over the fact (days ranked by event count, ties "
        "to the earlier date), so no static filter on dt exists for "
        "Catalyst to push. The fact scan instead carries "
        "dynamicpruningexpression(dt IN dynamicpruning#N) — Spark "
        "executes the broadcast dim subquery first and prunes the "
        "fact's partition listing with its result "
        "(plan-asserted in tests/test_plans.py). At 100 TB this is "
        "the difference between scanning 10 days and scanning the "
        "table whenever the day list comes from data (top-K days, "
        "quality-flagged days, replay manifests). Static pruning is "
        "s8's row; a deterministic FUNCTION of dt (e.g. dayofmonth%3) "
        "would be pushed statically through the join by "
        "InferFiltersFromConstraints and never exercise DPP — "
        "measured while building this row.",
    tags=("source", "pruning"),
)
def s8b_dpp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _s8_partitioned_events(spark, sf_dir)
    counts = ev.groupBy("dt").agg(F.count(F.lit(1)).alias("n_day"))
    # threshold = the 10th-busiest day's count, a 1-row parameter read
    # (the centroid-collect convention). Ties INCLUDED (>=) so neither
    # engine needs a date tie-break; with <10 days the threshold is
    # the smallest count and every day qualifies. The dim must carry a
    # literal SELECTIVE FILTER for Spark's PartitionPruning rule to
    # insert the dynamic subquery — an orderBy+limit dim (the obvious
    # spelling) plans WITHOUT DPP (no selective predicate), measured
    # while building this row.
    t = (counts.orderBy(F.col("n_day").desc()).limit(10)
         .agg(F.min("n_day")).collect()[0][0])
    busiest = counts.filter(F.col("n_day") >= F.lit(t)).select("dt")
    return (ev.join(F.broadcast(busiest), on="dt")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


@register(
    "u4_scd2_dimension",
    oracle="""
WITH changed AS (SELECT * FROM customer WHERE c_custkey % 7 = 0)
SELECT c_custkey, c_mktsegment, c_nationkey,
       TIMESTAMP '2023-01-01' AS valid_from,
       TIMESTAMP '2024-06-01' AS valid_to,
       FALSE AS is_current
FROM changed
UNION ALL
SELECT c_custkey, 'MOVED', c_nationkey,
       TIMESTAMP '2024-06-01', NULL, TRUE
FROM changed
UNION ALL
SELECT c_custkey, c_mktsegment, c_nationkey,
       TIMESTAMP '2023-01-01', NULL, TRUE
FROM customer WHERE c_custkey % 7 <> 0
UNION ALL
SELECT c_custkey + 10000000, 'NEWSEG', c_nationkey,
       TIMESTAMP '2024-06-01', NULL, TRUE
FROM customer WHERE c_custkey % 97 = 0
""",
    doc="U4: slowly-changing-dimension type 2 merge "
        "(operators/merge.py:scd2_apply) — the versioned load the "
        "reference's declared dimension tables (README.md:76-78) need. "
        "One batch carries: attribute changes (custkey%7: segment -> "
        "MOVED — old version closes at the effective date, new current "
        "version opens), no-op updates (custkey%5 re-sends identical "
        "attrs — dropped, no spurious version), and brand-new keys "
        "(custkey%97 offset by 1e7 — plain inserts). One full-outer "
        "hash join of current rows vs key-deduped updates; every "
        "output class projects off that single exchange.",
    tags=("upsert", "scd2"),
)
def u4_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.merge import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey", "c_mktsegment", "c_nationkey",
        F.lit("2023-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"))
    eff = F.lit("2024-06-01").cast("timestamp")
    changed = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("MOVED").alias("c_mktsegment"),
        "c_nationkey", eff.alias("eff_ts"))
    noop = cust.filter((F.col("c_custkey") % 5 == 0)
                       & (F.col("c_custkey") % 7 != 0)).select(
        "c_custkey", "c_mktsegment", "c_nationkey", eff.alias("eff_ts"))
    fresh = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        "c_nationkey", eff.alias("eff_ts"))
    updates = changed.unionByName(noop).unionByName(fresh)
    return scd2_apply(dim, updates, keys=["c_custkey"],
                      attrs=["c_mktsegment", "c_nationkey"])


@register(
    "u5_delete_keys",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND((value)*100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
FROM events
WHERE user_id % 7 <> 0
GROUP BY event_type
""",
    doc="U5 [cap]: key-scoped DELETE (GDPR-style erasure / retention) "
        "over a dt-partitioned fact — the load-side operator the "
        "reference's append-only design never needed but any "
        "production warehouse (and any training-data pipeline under "
        "erasure duties) does. operators/maintenance.delete_by_keys: "
        "column-pruned semi-join finds the partitions holding doomed "
        "rows, anti-join rewrites ONLY those partitions via dynamic "
        "partition overwrite, fully-emptied partition dirs are dropped "
        "explicitly. The key list is a DataFrame (a join at any batch "
        "size, never an isin literal). Query: build the partitioned "
        "table, erase every user_id divisible by 7, aggregate the "
        "surviving state; the oracle states the survivor set directly.",
    tags=("upsert", "maintenance"),
)
def u5_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.io import write_partitioned
    from data_warehouse_spark.operators.maintenance import delete_by_keys
    from data_warehouse_spark.queries.util import money_sum

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("u5_delete") + "/events_dt"
    write_partitioned(ev, path, ts_col="ts")
    doomed = ev.filter(F.col("user_id") % 7 == 0).select("user_id")
    delete_by_keys(spark, path, doomed, keys=["user_id"])
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"))


@register(
    "u6_compaction",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND((value)*100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
FROM events
GROUP BY event_type
""",
    doc="U6 [cap]: small-file compaction (OPTIMIZE) of a dt-partitioned "
        "table — the periodic maintenance a micro-batched sink needs "
        "(the reference commits batches of TWO rows, air_lambda.py:"
        "90-98; at warehouse scale every commit is a file and scan "
        "cost grows with file count). operators/maintenance."
        "compact_partitions folds each partition to one file (hash-"
        "repartition on dt -> one write task per date) via dynamic "
        "partition overwrite; content is untouched, which is exactly "
        "what the oracle certifies: the post-compaction aggregate "
        "equals the plain events aggregate. pytest additionally "
        "asserts the file count actually collapses.",
    tags=("maintenance",),
)
def u6_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.io import write_partitioned
    from data_warehouse_spark.operators.maintenance import compact_partitions
    from data_warehouse_spark.queries.util import money_sum

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("u6_compact") + "/events_dt"
    # fragment deliberately: ~8 files per partition, the micro-batch
    # accretion pattern compaction exists to undo
    write_partitioned(ev.repartition(8), path, ts_col="ts")
    compact_partitions(spark, path)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"))


@register(
    "u9c_version_expiry",
    oracle="""
WITH v3 AS (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01'
), v4 AS (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
), tagged AS (
    SELECT 3 AS version, * FROM v3
    UNION ALL
    SELECT 4 AS version, * FROM v4
)
SELECT version, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_price,
       MIN(o_orderkey) AS min_key
FROM tagged GROUP BY version
""",
    doc="U9c [ext]: snapshot retention + orphan-file GC "
        "(operators/snapshots.py:expire_versions / gc_orphans) — the "
        "lifecycle half of U9's time travel: write_snapshot accretes "
        "immutable version dirs forever, and at the reference's daily "
        "load cadence (trips_lambda.py:218-246) that is unbounded "
        "storage within a quarter; Delta/Iceberg pair time travel "
        "with VACUUM/expire_snapshots for exactly this reason. Query: "
        "commit four cumulative order snapshots (as-of 1995..1998), "
        "expire with keep_last=2, prove the survivors are bit-intact "
        "(per-version aggregates = the oracle's v3/v4 definitions), "
        "that expired versions fail LOUDLY (read_snapshot(1) must "
        "raise — asserted in-code), and that gc_orphans reclaims a "
        "planted crashed-writer data dir + staged manifest while "
        "leaving every committed version untouched. Expiry's commit "
        "point is an atomic manifest rename, so a concurrent reader "
        "either resolves a version fully or not at all "
        "(tests/test_snapshot_concurrency.py pins the mid-read case).",
    tags=("warehouse", "maintenance", "ext"),
)
def u9c_version_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import time as _time

    from data_warehouse_spark.operators.snapshots import (
        expire_versions, gc_orphans, read_snapshot, versions,
        write_snapshot,
    )
    from data_warehouse_spark.queries.util import money_sum

    table_dir = scratch_dir("u9c_expiry")
    orders = load_table(spark, sf_dir, "orders")
    for year in (1995, 1996, 1997, 1998):
        snap = orders.filter(
            F.col("o_orderdate") < F.lit(f"{year}-01-01").cast("timestamp")
        ).select("o_orderkey", "o_totalprice")
        write_snapshot(snap, table_dir)

    # plant crashed-writer debris, backdated past the GC grace window:
    # a manifest-less data dir (the commit rename never happened) and
    # a staged .json.tmp manifest
    orphan_dir = os.path.join(table_dir, "data", "v000099")
    os.makedirs(orphan_dir, exist_ok=True)
    orphan_file = os.path.join(orphan_dir, "part-00000.parquet")
    staged = os.path.join(table_dir, "_versions", ".v000099.json.tmp.0")
    for p in (orphan_file, staged):
        with open(p, "w") as fh:
            fh.write("debris")
    old = _time.time() - 7200
    for p in (orphan_dir, orphan_file, staged):
        os.utime(p, (old, old))

    removed = expire_versions(table_dir, keep_last=2)
    if removed != [1, 2]:
        raise AssertionError(f"expected versions [1, 2] expired, got {removed}")
    gone = gc_orphans(table_dir, grace_s=3600)
    if not any(p.endswith("v000099") for p in gone):
        raise AssertionError(f"orphan data dir survived GC: {gone}")
    if versions(table_dir) != [3, 4]:
        raise AssertionError(f"retention broke the version list: "
                             f"{versions(table_dir)}")
    try:
        read_snapshot(spark, table_dir, 1)
    except ValueError:
        pass  # the loud-failure contract for expired versions
    else:
        raise AssertionError("read of an expired version did not raise")

    tagged = None
    for v in versions(table_dir):
        part = read_snapshot(spark, table_dir, v) \
            .withColumn("version", F.lit(v))
        tagged = part if tagged is None else tagged.unionByName(part)
    return (tagged.groupBy("version")
            .agg(F.count(F.lit(1)).alias("n"),
                 money_sum("o_totalprice").alias("sum_price"),
                 F.min("o_orderkey").alias("min_key")))


@register(
    "u5b_erase_versions",
    oracle="""
WITH v1 AS (
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id % 3 = 0 AND user_id % 7 <> 0
), v2 AS (
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id % 3 <= 1
), v3 AS (
    SELECT event_id, user_id, event_type, value FROM events
), tagged AS (
    SELECT 1 AS version, * FROM v1 WHERE user_id % 7 <> 0
    UNION ALL
    SELECT 2 AS version, * FROM v2 WHERE user_id % 7 <> 0
    UNION ALL
    SELECT 3 AS version, * FROM v3 WHERE user_id % 7 <> 0
)
SELECT version, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_doomed,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM tagged GROUP BY version
""",
    doc="U5b [ext]: erasure that COMPOSES with time travel (U5 x U9 — "
        "operators/snapshots.py:erase_keys_all_versions). "
        "delete_by_keys erases the LIVE table only; on a versioned "
        "table every OLD snapshot still serves the deleted keys via "
        "u9_time_travel, so GDPR-style erasure ([cap] U5's purpose) "
        "was void exactly on the tables that keep history. The "
        "operator rewrites each retained version that holds a doomed "
        "key (null-safe anti-join; probe-then-rewrite so untouched "
        "versions stay byte-immutable — asserted in-code: v1 is built "
        "key-free and must NOT be rewritten) and swaps the manifest "
        "atomically, preserving version numbers. Query: three "
        "versions, erase user_id % 7 = 0, read back EVERY readable "
        "version; the oracle states the erased per-version state and "
        "n_doomed = 0 certifies the keys are gone from all of "
        "history, not just the head.",
    tags=("warehouse", "maintenance", "ext"),
)
def u5b_erase_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.snapshots import (
        erase_keys_all_versions, read_snapshot, versions, write_snapshot,
    )
    from data_warehouse_spark.queries.util import money_sum

    table_dir = scratch_dir("u5b_erase")
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "event_type", "value")
    write_snapshot(ev.filter((F.col("event_id") % 3 == 0)
                             & (F.col("user_id") % 7 != 0)), table_dir)
    write_snapshot(ev.filter(F.col("event_id") % 3 <= 1), table_dir)
    write_snapshot(ev, table_dir)

    doomed = ev.filter(F.col("user_id") % 7 == 0).select("user_id")
    rewritten = erase_keys_all_versions(spark, table_dir, doomed,
                                        keys=["user_id"])
    if 1 in rewritten:
        raise AssertionError(
            "version 1 holds no doomed key but was rewritten — the "
            "probe-then-rewrite discipline broke")
    if sorted(rewritten) != [2, 3]:
        raise AssertionError(f"expected versions [2, 3] rewritten, "
                             f"got {rewritten}")

    tagged = None
    for v in versions(table_dir):
        part = read_snapshot(spark, table_dir, v) \
            .withColumn("version", F.lit(v))
        tagged = part if tagged is None else tagged.unionByName(part)
    return (tagged.groupBy("version")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("user_id") % 7 == 0, 1)
                       .otherwise(0)).alias("n_doomed"),
                 money_sum("value").alias("sum_value")))
