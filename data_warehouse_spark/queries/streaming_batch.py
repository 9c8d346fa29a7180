"""Streaming operators checked through their batch-equivalent plans
(SURVEY §2.10 ST1-ST4). The *same* windowing expressions run in
streaming mode in streaming/jobs.py (pytest-driven); here they run in
batch so the DuckDB oracle can hash-check window semantics exactly.
st1 runs a genuine Structured Streaming job synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.queries.registry import register
from data_warehouse_spark.queries.util import (
    money_sum, money_sum_sql, scratch_dir,
)
from data_warehouse_spark.streaming.jobs import (
    read_events_stream, run_microbatch_append, start_memory_sink,
)


@register(
    "st1_stream_source",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    doc="ST1: streaming file source (the Lambda poll loop, "
        "bike_lambda.py:52-59) driven to completion with AvailableNow; "
        "returns per-type counts computed by a real streaming query.",
    tags=("streaming",),
)
def st1_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = start_memory_sink(counts, "st1_counts", "complete")
    q.awaitTermination()
    return spark.sql("SELECT event_type, n FROM st1_counts")


@register(
    "st2_tumbling_window",
    oracle=f"""
SELECT date_trunc('day', ts) AS win_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
       event_type, COUNT(*) AS n,
       {money_sum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
    doc="ST2: tumbling 1-day window aggregate — the reference's daily "
        "batch window (trips_lambda.py:218-221). Same F.window expr "
        "runs streaming in streaming/jobs.py:tumbling_counts.",
    tags=("streaming", "window"),
)
def st2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 day")
    return (ev.groupBy(win.alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 money_sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "n", "sum_value"))


@register(
    "st3_sliding_window",
    oracle="""
SELECT TIMESTAMP '1970-01-01' + (21600 * (epoch_us(ts) // 1000000 // 21600) - off.i * 21600) * INTERVAL 1 SECOND AS win_start,
       TIMESTAMP '1970-01-01' + (21600 * (epoch_us(ts) // 1000000 // 21600) - off.i * 21600 + 86400) * INTERVAL 1 SECOND AS win_end,
       user_id, COUNT(*) AS n
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS off(i)
GROUP BY 1, 2, 3
""",
    doc="ST3: sliding window (24h size, 6h slide) — the reference's "
        "overlapping 24h re-scan (trips_lambda.py:218-221). Oracle "
        "expands each event into its 4 overlapping windows explicitly.",
    tags=("streaming", "window"),
)
def st3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "24 hours", "6 hours")
    return (ev.groupBy(win.alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"), "user_id", "n"))


@register(
    "st4_session_window",
    oracle=f"""
WITH lagged AS (
    SELECT user_id, ts, value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR (epoch_us(ts) - epoch_us(prev_ts)) >= 14400000000
                   THEN 1 ELSE 0 END AS is_break
    FROM lagged
), ids AS (
    SELECT *, SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT MIN(ts) AS sess_start,
       MAX(ts) + INTERVAL 4 HOUR AS sess_end,
       user_id, COUNT(*) AS n_events,
       {money_sum_sql('value')} AS sum_value
FROM ids GROUP BY user_id, sid
""",
    doc="ST4: session-window aggregate breaking on gap >= threshold "
        "(vs W5's strict >; both semantics are offered). Native "
        "session_window breaks on strict > too (touching windows "
        "merge), so the two differ only at an exact-gap tie, which the "
        "events fixture lacks (tests/test_sessionize.py pins both). "
        "r17: computed through the lag-chain "
        "(with_session_id gap_closed=True) instead of the native "
        "batch session_window operator — the oracle IS the lag-chain "
        "SQL, and the native form runs "
        "UpdatingSessionsIterator with a sort on BOTH sides of its "
        "exchange and shuffles struct-headed partial-session rows, "
        "which on this data shape (median inter-event gap ~7.5h > the "
        "4h gap, so partial pre-merge collapses almost nothing) "
        "measured 10%/20% slower at 64x/256x "
        "(ddece72:OPTIMIZATION_r17.md). "
        "Dense per-user streams where pre-merge does compress would "
        "favor the native form; the streaming path (streaming/"
        "jobs.py:session_aggs) keeps the native operator, where its "
        "incremental state store is load-bearing.",
    tags=("streaming", "window"),
)
def st4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.operators.sessionize import with_session_id

    ev = load_table(spark, sf_dir, "events")
    ids = with_session_id(ev, key="user_id", ts="ts",
                          gap_seconds=4 * 3600, gap_closed=True,
                          out_col="__sid")
    return (ids.groupBy("user_id", "__sid")
            .agg(F.min("ts").alias("sess_start"),
                 (F.max("ts") + F.expr("INTERVAL 4 HOURS"))
                 .alias("sess_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 money_sum("value").alias("sum_value"))
            .select("sess_start", "sess_end",
                    "user_id", "n_events", "sum_value"))


def _stage_one_file(df, root: str, staged: str, name: str) -> None:
    import os
    tmp = f"{root}/{name}_t"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(f"{tmp}/{part}", f"{staged}/{name}.parquet")


@register(
    "st5_watermark_late_drop",
    oracle="""
WITH on_time AS (SELECT * FROM events
                 WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM on_time)
SELECT x.win_start, x.event_type, x.n
FROM (SELECT date_trunc('day', ts) AS win_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM on_time GROUP BY 1, 2) x, wm
WHERE x.win_start + INTERVAL 1 DAY <= wm.w
""",
    doc="ST5: watermark / late-data handling as two REAL streaming runs "
        "sharing a checkpoint — the reference's daily re-run cadence "
        "(trips_lambda.py:218-221). Run 1 processes on-time data and "
        "persists its watermark; run 2 sees a late file arrive and "
        "drops every row older than the restored watermark "
        "(numRowsDroppedByWatermark > 0; asserted in pytest). Bounded "
        "state at 100 TB; exact update-in-place reference semantics = "
        "st7's foreachBatch upsert.",
    tags=("streaming",),
)
def st5_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = scratch_dir("st5_late")
    staged, ckpt, outp = f"{root}/in", f"{root}/ckpt", f"{root}/out"
    os.makedirs(staged)
    ev = load_table(spark, sf_dir, "events")

    def run_once() -> None:
        from data_warehouse_spark.streaming.jobs import EVENTS_SCHEMA
        # staged files are load_table-normalized, so the shared batch
        # schema applies verbatim (single source of truth)
        stream = (spark.readStream.format("parquet")
                  .schema(EVENTS_SCHEMA).load(staged))
        agg = (stream.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("win.start").alias("win_start"),
                       "event_type", "n"))
        q = (agg.writeStream.format("parquet").option("path", outp)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    on_time = ev.filter(F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
    late = ev.filter(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
    _stage_one_file(on_time, root, staged, "a_ontime")
    run_once()                       # watermark advances past 2024-01-05
    _stage_one_file(late, root, staged, "b_late")
    run_once()                       # late rows dropped by restored watermark
    return spark.read.parquet(outp)


@register(
    "st6_stream_dedup",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT DISTINCT ON (user_id, ts) user_id, ts, event_type
      FROM events)
GROUP BY event_type
""",
    doc="ST6: stateful streaming dedup on the log PK (bike_lambda.py:46 "
        "PK(bike_id,timestamp) rejection) — dropDuplicates over a "
        "watermarked stream; the watermark bounds the dedup state at "
        "100 TB. Output = per-type surviving-row counts. Oracle note: "
        "Spark keeps an arbitrary row per duplicate key, so per-type "
        "counts are engine-comparable only while (user_id, ts) never "
        "collides across event_types — true of this fixture (verified "
        "count(*) == count(distinct (user_id, ts))), and a microsecond-"
        "resolution log makes cross-type collisions vanishingly rare.",
    tags=("streaming",),
)
def st6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.streaming.jobs import dedup_stream
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(stream)
    counts = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = start_memory_sink(counts, "st6_out", "complete")
    q.awaitTermination()
    return spark.sql("SELECT event_type, n FROM st6_out")


@register(
    "st11_dedup_retries",
    oracle=f"""
WITH retried AS (
    SELECT event_id, event_type, value FROM events
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_id % 4 = 0
), merged AS (
    SELECT DISTINCT event_id, event_type, value FROM retried
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {money_sum_sql('value')} AS sum_value
FROM merged GROUP BY event_type
""",
    doc="ST11 [cap]: at-least-once retry dedup via "
        "dropDuplicatesWithinWatermark — every 4th event is re-"
        "delivered 90 s later (same event_id, LATER event time: the "
        "delivery-retry shape ST6 cannot express, since its key "
        "includes ts). ts stays OUT of the dedup key, yet state is "
        "still watermark-evicted — plain dropDuplicates on a ts-less "
        "key would grow state forever. Survivor choice is arbitrary "
        "but the retry differs only in ts, so the per-type count + "
        "exact-cents sum output is survivor-invariant and therefore "
        "oracle-checkable. REAL streaming run (AvailableNow).",
    tags=("streaming",),
)
def st11_dedup_retries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.streaming.jobs import dedup_retries_stream
    cols = ["event_id", "event_type", "ts", "value"]
    stream = read_events_stream(spark, sf_dir).select(*cols)
    retries = (read_events_stream(spark, sf_dir).select(*cols)
               .filter(F.col("event_id") % 4 == 0)
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 90 SECONDS")))
    merged = dedup_retries_stream(stream.unionByName(retries),
                                  keys=["event_id"], watermark="10 minutes")
    counts = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"))
    q = start_memory_sink(counts, "st11_out", "complete")
    q.awaitTermination()
    return spark.sql("SELECT event_type, n, sum_value FROM st11_out")


@register(
    "st7_foreach_upsert",
    oracle=f"""
WITH merged AS (
    SELECT DISTINCT ON (user_id, event_type, ts)
           user_id, event_type, ts, value
    FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {money_sum_sql('value')} AS sum_value
FROM merged GROUP BY event_type
""",
    doc="ST7: foreachBatch micro-batch upsert sink — the reference's "
        "ON CONFLICT DO UPDATE load (trips_lambda.py:180-206) with "
        "exact update-in-place semantics, per micro-batch. The final "
        "merged table state is deterministic (same upsert algebra as "
        "U1: last-writer-wins per key, keys unique in this log), so it "
        "IS oracle-checkable — the oracle replays the merge as a "
        "key-dedup and aggregates the same final state. Sums run in "
        "the integer cents domain so they are order-independent across "
        "engines and shuffles.",
    tags=("streaming", "upsert"),
)
def st7_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.streaming.jobs import run_foreach_batch_upsert
    target = scratch_dir("st7_upsert") + "/t"
    stream = read_events_stream(spark, sf_dir)
    latest = stream.select("user_id", "event_type", "ts", "value")
    q = run_foreach_batch_upsert(latest, target,
                                 keys=["user_id", "event_type", "ts"])
    q.awaitTermination()
    back = spark.read.parquet(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"))


@register(
    "st8_custom_stateful",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY user_id
""",
    doc="ST8 [cap]: custom stateful streaming operator via "
        "applyInPandasWithState (streaming/jobs.py:running_user_stats) — "
        "per-user running profiles with event-time idle expiry, state "
        "the built-in windowed aggregates can't express. Pytest asserts "
        "the final profiles equal the batch aggregate. THIS registered "
        "query widens the idle gap to 30 days (>> any fixture "
        "inter-event gap) so the MAX-over-update-rows final projection "
        "equals the per-user total under ANY micro-batch split — with "
        "the 30-min default, a multi-file source could expire state "
        "mid-stream and restart the counters, making MAX the largest "
        "segment instead of the total (the expiry path itself is "
        "exercised in tests/test_streaming.py with a tight gap).",
    tags=("streaming", "stateful"),
)
def st8_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.streaming.jobs import (
        read_events_stream, running_user_stats,
    )
    stream = read_events_stream(spark, sf_dir)
    q = (running_user_stats(stream, idle_gap_ms=30 * 86_400_000)
         .writeStream.format("memory")
         .queryName("st8_out").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        "SELECT user_id, MAX(n_events) AS n_events, "
        "ROUND(MAX(sum_value), 6) AS sum_value "
        "FROM st8_out WHERE NOT expired GROUP BY user_id")


@register(
    "st9_stream_stream_join",
    oracle="""
SELECT c.user_id AS user_id,
       c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
    doc="ST9: watermarked stream-stream interval join, run as a REAL "
        "Structured Streaming query (streaming/jobs.py:attribution_join) "
        "— click->purchase attribution within a 2h horizon. The time "
        "bound on both event-time columns lets the state store expire "
        "both sides at the watermark, so state is bounded at any scale; "
        "inner matches emit without waiting for window close. The "
        "reference has no streaming join; this is the Spark-native form "
        "of its polled snapshot-correlation jobs.",
    tags=("streaming", "join"),
)
def st9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase")
    from data_warehouse_spark.streaming.jobs import attribution_join
    joined = attribution_join(clicks, purchases)
    q = start_memory_sink(joined, "st9_out", "append")
    q.awaitTermination()
    return spark.sql("SELECT user_id, click_id, purchase_id, click_ts, "
                     "purchase_ts, purchase_value FROM st9_out")


@register(
    "st10_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="ST10: stream-static enrichment join, run as a REAL streaming "
        "query — the events stream joins a broadcast customer dimension "
        "(the canonical enrich-then-aggregate serving shape; the "
        "reference's Lambdas re-query the dim per poll). The static "
        "side is planned once per micro-batch as a broadcast hash join "
        "— no state store involvement at all, unlike st9 — so dim "
        "updates between batches are picked up while stream state stays "
        "ZERO beyond the aggregate itself. Integer-cents sum keeps the "
        "result bit-stable under any micro-batch partitioning.",
    tags=("streaming", "join"),
)
def st10_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_spark.queries.util import cents

    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    enriched = stream.join(F.broadcast(dim), on="user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("value")).alias("sum_cents"))
    q = start_memory_sink(agg, "st10_out", "complete")
    q.awaitTermination()
    return spark.sql("SELECT segment, n, sum_cents FROM st10_out")


@register(
    "u3_microbatch_write",
    oracle=f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {money_sum_sql('value')} AS sum_value
FROM events GROUP BY event_type
""",
    doc="U3: micro-batched atomic append sink (air_lambda.py:90-98 — "
        "executemany batches, one commit each). The events log is "
        "staged into 4 files, streamed one file per trigger, and each "
        "micro-batch lands as one overwrite into its own epoch-keyed "
        "partition via foreachBatch plus an epoch-idempotent "
        "commit-log record (streaming/jobs.py:run_microbatch_append — "
        "replayed epochs rewrite themselves, so the table is "
        "exactly-once under any crash/restart schedule with the "
        "checkpoint intact, and even across a full checkpoint loss "
        "here because 1-file batching is deterministic). "
        "The registry result is the FINAL TABLE STATE read back from "
        "the sink (append algebra: every source row exactly once), "
        "which is deterministic and hash-checkable against the events "
        "aggregate regardless of how rows split into batches; the "
        "per-batch commit bookkeeping (>=2 batches, committed rows sum "
        "to the total, no half-visible batch) is pinned in "
        "tests/test_streaming.py where batch boundaries are "
        "controllable. Distinct from ST7 (merge per batch) and S5 "
        "(batch-mode append): U3 is the streaming append commit loop.",
    tags=("streaming", "sink"),
)
def u3_microbatch_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("u3_microbatch")
    staging, target = base + "/in", base + "/t"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    # 4 staged files -> 4 micro-batches under maxFilesPerTrigger=1
    ev.repartition(4).write.mode("overwrite").parquet(staging)
    stream = (spark.readStream.format("parquet")
              .schema("event_id long, user_id long, event_type string, "
                      "ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).load(staging))
    q = run_microbatch_append(stream, target, base + "/commits.jsonl")
    q.awaitTermination()
    back = spark.read.parquet(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("sum_value"))


@register(
    "st12_stream_incremental_dedup",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0
), idx AS (
    SELECT sha256(text) AS h, MIN(doc_id) AS dup_of
    FROM corpus GROUP BY sha256(text)
)
SELECT b.doc_id, i.dup_of, i.dup_of IS NOT NULL AS is_dup
FROM (SELECT doc_id, sha256(text) AS h FROM batch) b
LEFT JOIN idx i ON b.h = i.h
""",
    doc="ST12: x2e's incremental corpus dedup as a REAL Structured "
        "Streaming run — the continuous-ingest shape: arriving crawl "
        "documents (the held-out tenth plus re-arrivals under new ids, "
        "derived in-stream with a stateless projection) left-join the "
        "STATIC corpus (content_hash, canonical_id) index per "
        "micro-batch, st10-style: a broadcast hash join planned per "
        "batch, ZERO state store (the join is stateless, the sink is "
        "append — no aggregate, no watermark, no dedup state to "
        "evict, which is exactly why the index form beats streaming "
        "dropDuplicates over corpus ∪ stream: state stays O(index) "
        "on the persisted artifact, not O(stream history) in the "
        "store). Final appended state is deterministic regardless of "
        "file->batch slicing, so the x2e oracle checks it value-"
        "exactly; multi-batch arrival and batch-equivalence are "
        "pinned in tests/test_streaming.py.",
    tags=("streaming", "dedup"),
)
def st12_stream_incremental_dedup(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    from data_warehouse_spark.streaming.jobs import read_documents_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = (docs.filter(F.col("doc_id") % 10 != 0)
           .groupBy(F.sha2("text", 256).alias("h"))
           .agg(F.min("doc_id").alias("dup_of")))
    stream = read_documents_stream(spark, sf_dir)
    arriving = (stream
                .filter((F.col("doc_id") % 10 == 0)
                        | (F.col("doc_id") % 7 == 0))
                .withColumn("doc_id",
                            F.when(F.col("doc_id") % 10 == 0,
                                   F.col("doc_id"))
                            .otherwise(F.col("doc_id") + 2000000))
                .select("doc_id", F.sha2("text", 256).alias("h")))
    flagged = (arriving.join(F.broadcast(idx), on="h", how="left")
               .select("doc_id", "dup_of",
                       F.col("dup_of").isNotNull().alias("is_dup")))
    q = start_memory_sink(flagged, "st12_out", "append")
    q.awaitTermination()
    return spark.sql("SELECT doc_id, dup_of, is_dup FROM st12_out")
