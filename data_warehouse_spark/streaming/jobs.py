"""Structured Streaming equivalents of the reference's periodic jobs
(SURVEY §2.10 ST1-ST7).

The reference is "a streaming system in slow motion": Lambda polls GBFS
snapshots (bike_lambda.py:52-59), a daily schedule gate
(weather_lambda.py:110), and a sliding 24h re-scan + upsert
(trips_lambda.py:218-221,186-196). Here the cadence is the trigger;
the logic is the same DataFrame plan as batch.

All jobs read the `events` fixture as a file stream and write to a
memory/parquet sink; tests drive them synchronously with
Trigger.AvailableNow + awaitTermination.

Late data: the reference *updates* late-arriving trips in place (U1
upsert). Structured Streaming offers two modes, both provided:
  - watermarked session/window aggs (late rows beyond the watermark are
    dropped — bounded state, the 100 TB default), and
  - foreach_batch_upsert (micro-batch MERGE into the sink — exact
    reference semantics, state bounded by the sink not the stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_warehouse_spark.io import (
    EVENTS_SCHEMA, EVENTS_TS_ENCODINGS, normalize_events_ts, parquet_columns,
)
from data_warehouse_spark.operators.merge import merge_into_partitioned

# EVENTS_SCHEMA is re-exported for stream readers outside the engine
# (warehouse_bench's event stream); read_events_stream swaps its ts
# declaration per fixture encoding


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          max_files: int = 1,
                          glob: str = "documents.parquet") -> DataFrame:
    """ST12: streaming file source over the documents corpus — the
    continuous-crawl arrival shape. Only the dedup-relevant columns
    are declared (parquet projection prunes the rest at the source);
    no timestamp column exists, so unlike events there is nothing to
    normalize. The default glob picks the documents log out of a
    fixture dir; tests pass glob="*.parquet" with a staged multi-file
    directory to force multi-batch arrival under
    maxFilesPerTrigger=1."""
    return (spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", max_files)
            .option("pathGlobFilter", glob)
            .load(f"{sf_dir}/"))


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files: int = 1,
                       glob: str = "events.parquet") -> DataFrame:
    """ST1: streaming file source over the events log (the reference's
    poll loop). maxFilesPerTrigger=1 emulates snapshot-at-a-time arrival.

    The default glob picks the events log out of a fixture dir; pass
    e.g. glob="*.parquet" over a directory of staged event files to
    stream them one file per trigger, as read_documents_stream does.

    Streaming sources need an explicit schema, so read the footer of one
    file the glob matches, on the driver, to learn which physical ts encoding
    this fixture generation shipped (TIMESTAMP(NANOS)->long under the
    legacy conf, or TIMESTAMP(MICROS) NTZ), then normalize to plain
    TIMESTAMP with io.load_table's own step, so every streaming job sees
    the same event-time column as the batch plans."""
    cols = parquet_columns(spark, _first_match(spark, sf_dir, glob))
    ts_type = next(iter(cols.values()))["ts"]
    ts_decl = ts_type if ts_type in EVENTS_TS_ENCODINGS else "timestamp"
    raw = (spark.readStream.format("parquet")
           .schema(EVENTS_SCHEMA.replace("ts timestamp", f"ts {ts_decl}"))
           .option("maxFilesPerTrigger", max_files)
           # file stream sources take a directory; the glob filter picks
           # out the event files from it
           .option("pathGlobFilter", glob)
           .load(f"{sf_dir}/"))
    return normalize_events_ts(spark, raw, ts_type)


def _first_match(spark: SparkSession, dir_path: str, glob: str) -> str:
    """Path of the first file in `dir_path` whose name matches `glob` —
    Hadoop glob syntax, the same matcher pathGlobFilter applies to the
    stream's listing. Fails loudly when nothing matches."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{glob}")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    matches = sorted(st.getPath().toString()
                     for st in (fs.globStatus(hpath) or []) if st.isFile())
    if not matches:
        raise FileNotFoundError(f"no file matches {glob!r} in {dir_path}")
    return matches[0]


def tumbling_counts(events: DataFrame, size: str = "1 day",
                    watermark: str = "1 hour") -> DataFrame:
    """ST2 (+ST5): tumbling-window aggregate with watermark — the daily
    batch window (trips_lambda.py:218-221) as a stream."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", size).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")))


def sliding_counts(events: DataFrame, size: str = "24 hours",
                   slide: str = "6 hours", watermark: str = "1 hour") -> DataFrame:
    """ST3: sliding-window aggregate (24h window recomputed periodically)."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", size, slide).alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n")))


def session_aggs(events: DataFrame, gap: str = "4 hours",
                 watermark: str = "1 hour") -> DataFrame:
    """ST4: session-window aggregation — streaming W5."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value")))


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST6: stateful streaming dedup on the log's PK (bike_lambda.py:46);
    watermark bounds the dedup state."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "ts"])


def dedup_retries_stream(events: DataFrame, keys: list[str],
                         watermark: str = "10 minutes") -> DataFrame:
    """ST11: at-least-once ingest dedup — dropDuplicatesWithinWatermark.

    Distinct semantic from ST6: there the duplicate carries the SAME
    event time (the key includes ts), so plain dropDuplicates evicts
    state at the watermark. Here a retry re-delivers the same logical
    key with a DIFFERENT (later) timestamp — the delivery-retry shape
    of every at-least-once source — so ts cannot be part of the key
    and plain dropDuplicates would hold key state forever.
    dropDuplicatesWithinWatermark guarantees dedup of duplicates whose
    event times fall within the watermark delay of each other while
    still evicting state, which is exactly the retry contract
    (retries arrive seconds-to-minutes later, not days)."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def attribution_join(clicks: DataFrame, purchases: DataFrame,
                     horizon: str = "2 hours",
                     watermark: str = "1 hour") -> DataFrame:
    """ST9: watermarked stream-stream interval join — click->purchase
    attribution within a time horizon.

    Both sides carry a watermark and the join condition bounds
    purchase_ts to [click_ts, click_ts + horizon], so Structured
    Streaming can expire buffered rows on BOTH sides once the watermark
    passes their horizon: state is O(events within watermark + horizon),
    not O(stream). Inner-join matches emit immediately in append mode —
    no result waits for window close. At 100 TB the state store is
    per-key (user) partitioned across executors; no driver state.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"))
    return c.join(
        p,
        F.expr(f"c_user = p_user AND purchase_ts >= click_ts "
               f"AND purchase_ts <= click_ts + INTERVAL {horizon}"),
        "inner",
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id",
             "click_ts", "purchase_ts", "purchase_value")


def start_memory_sink(df: DataFrame, name: str, output_mode: str) -> StreamingQuery:
    """Drive a streaming plan to completion against an in-memory table."""
    return (df.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start())


# Test seam: called with the epoch id AFTER a batch's data commit but
# BEFORE Spark records the epoch in the checkpoint — the exact window
# where a crash forces an at-least-once replay of the epoch. None in
# production.
_st7_post_batch_hook = None


def run_foreach_batch_upsert(events: DataFrame, target_path: str,
                             keys: list[str],
                             ts_col: str = "ts") -> StreamingQuery:
    """ST7: micro-batch upsert sink — the reference's ON CONFLICT load
    (trips_lambda.py:180-206) per micro-batch via foreachBatch.

    Each batch routes through ``merge_into_partitioned``: explicit
    target-existence check (no read-error-means-first-load guessing),
    one dynamic-partition-overwrite write (no stage→target double
    overwrite a crash could halve), and only the date partitions the
    batch touches rewrite — the same code path as the batch MERGE, so
    stream and batch loads cannot drift semantically.
    """
    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_into_partitioned(batch.sparkSession, target_path, batch,
                               keys=keys, ts_col=ts_col)
        if _st7_post_batch_hook is not None:
            _st7_post_batch_hook(epoch_id)

    return (events.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", target_path + "_ckpt")
            .trigger(availableNow=True).start())


def running_user_stats(events: DataFrame, watermark: str = "1 hour",
                       idle_gap_ms: int = 1_800_000) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running profile (event count, value sum, last-seen) that emits an
    updated row per user per micro-batch and expires users idle longer
    than `idle_gap_ms` of EVENT time — state the built-in windowed
    aggregates can't express (cross-window running totals with custom
    expiry).

    Expiry uses EventTimeTimeout against the watermark, not processing
    time: processing-time timeouts keep scheduling wake-up batches, so
    a drain-and-stop run (Trigger.AvailableNow) never terminates, and
    wall-clock expiry is meaningless in backfills anyway. State is
    bounded by (active users within the idle gap) at any scale.

    The reference's analogue is the incrementally-maintained fact table
    (all_trips upserted every run, trips_lambda.py:180-206); here the
    "table" is operator state. Arrow-batched; no driver involvement.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ("user_id long, n_events long, sum_value double, "
                  "last_ts timestamp, expired boolean")
    state_schema = "n long, s double, last bigint"

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, s, last = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "sum_value": [s],
                                "last_ts": [pd.Timestamp(last, unit="ns")],
                                "expired": [True]})
            return
        n, s, last = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last = max(last, int(pdf["ts"].astype("int64").max()))
        state.update((n, s, last))
        # clamp: a row admitted late (within the watermark delay) can
        # put last+gap BEHIND the already-advanced global watermark,
        # and GroupState rejects a timeout <= watermark with an
        # IllegalArgumentException that kills the whole query — expire
        # such users at the next watermark tick instead
        timeout = last // 1_000_000 + idle_gap_ms
        state.setTimeoutTimestamp(
            max(timeout, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [s],
                            "last_ts": [pd.Timestamp(last, unit="ns")],
                            "expired": [False]})

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                track, outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def run_microbatch_append(events: DataFrame, target_path: str,
                          commit_log: str) -> StreamingQuery:
    """U3: micro-batched APPEND sink — the reference's batched-INSERT
    commit loop (air_lambda.py:90-98: executemany over fixed-size row
    batches, one DB commit per batch) re-expressed as foreachBatch:
    each micro-batch is ONE atomic parquet append job plus a commit-log
    record (epoch, rows) written only after the append succeeds.

    Semantics the shape preserves at any scale:
      - per-batch atomicity + REPLAY IDEMPOTENCE: foreachBatch is
        at-least-once (a crash between the data commit and the
        checkpoint commit re-runs the epoch), so each batch writes
        mode("overwrite") into its own epoch-keyed partition directory
        — the standard foreachBatch exactly-once pattern: a replayed
        epoch overwrites its own prior output instead of appending a
        duplicate, so the final state is exactly-once under any
        crash/restart schedule WITH THE CHECKPOINT INTACT (the
        checkpoint pins each epoch's source composition, so a replay
        rewrites exactly what it wrote before). After a full
        checkpoint LOSS the stream is a new identity and epoch
        numbering restarts; that is only still exactly-once when
        batch composition is deterministic — true here
        (maxFilesPerTrigger: each file lands in exactly one epoch, so
        the epoch dirs collectively cover every file once, whatever
        the order), and the property the replay test pins. The
        checkpoint-loss guarantee additionally assumes (a) an
        UNCHANGED source — the rerun's epoch dirs must exactly cover
        the prior stream's composition; with fewer/renamed source
        files, epoch dirs the new run never reaches survive with
        stale rows and the target double-counts — and (b) a target
        directory OWNED by this stream (no foreign epoch= dirs).
        Callers reusing a target across stream identities must clear
        it first; registry usage is safe because scratch_dir wipes
        per invocation;
      - the commit log is likewise epoch-idempotent: a replayed
        epoch's record REPLACES the prior record for that epoch;
      - restartability: the checkpoint + availableNow trigger replays
        un-checkpointed batches only, exactly like the Lambda's cursor;
      - the commit log is driver-side metadata (two small writes per
        batch), never row data — payload rows flow executor-side only.

    The count() before the write runs on the persisted batch, so the
    source is read once per batch, not twice.
    """
    import json
    import os

    def append_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            n = batch.count()
            # overwrite-into-epoch-dir, not append-into-table: replay
            # of this epoch rewrites the same directory (idempotent)
            batch.write.mode("overwrite").parquet(
                f"{target_path}/epoch={int(epoch_id)}")
        finally:
            batch.unpersist()
        os.makedirs(os.path.dirname(commit_log), exist_ok=True)
        prior = []
        try:
            with open(commit_log) as fh:
                prior = [json.loads(line) for line in fh if line.strip()]
        except OSError:
            pass
        prior = [c for c in prior if c["epoch"] != int(epoch_id)]
        prior.append({"epoch": int(epoch_id), "rows": n})
        with open(commit_log + ".tmp", "w") as fh:
            for c in sorted(prior, key=lambda c: c["epoch"]):
                fh.write(json.dumps(c) + "\n")
        os.replace(commit_log + ".tmp", commit_log)

    return (events.writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", target_path + "_ckpt")
            .trigger(availableNow=True).start())
