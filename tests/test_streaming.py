"""Structured Streaming jobs (SURVEY §2.10) driven synchronously with
AvailableNow triggers, asserting batch-equivalence where applicable."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from data_warehouse_spark.io import load_table
from data_warehouse_spark.streaming.jobs import (
    dedup_stream, read_events_stream, run_foreach_batch_upsert,
    session_aggs, start_memory_sink, tumbling_counts,
)


def test_st1_st2_tumbling_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    q = start_memory_sink(tumbling_counts(stream), "t_tumbling", "complete")
    q.awaitTermination()
    streamed = {
        (r["win"]["start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["win"]["start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in (ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("value").alias("sum_value"))).collect()
    }
    assert streamed == batch


def test_st4_session_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    q = start_memory_sink(session_aggs(stream), "t_sessions", "complete")
    q.awaitTermination()
    streamed = {(r["sess"]["start"], r["user_id"]): r["n_events"]
                for r in spark.sql("SELECT * FROM t_sessions").collect()}
    ev = load_table(spark, sf_dir, "events")
    batch = {(r["sess"]["start"], r["user_id"]): r["n_events"]
             for r in (ev.groupBy(F.session_window("ts", "4 hours").alias("sess"),
                                  "user_id")
                       .agg(F.count(F.lit(1)).alias("n_events"))).collect()}
    assert streamed == batch


def test_st6_streaming_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    q = start_memory_sink(dedup_stream(stream), "t_dedup", "append")
    q.awaitTermination()
    n_stream = spark.sql("SELECT COUNT(*) AS n FROM t_dedup").first()["n"]
    ev = load_table(spark, sf_dir, "events")
    assert n_stream == ev.dropDuplicates(["user_id", "ts"]).count()


def test_st1_events_stream_glob_streams_staged_files_one_per_trigger(
        spark, sf_dir, tmp_path):
    """read_events_stream's glob widens the source from the fixture's
    single events log to a directory of staged event files: with
    maxFilesPerTrigger=1 the files arrive over several micro-batches,
    and together they carry exactly the batch table's rows."""
    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "events_staged")
    ev.repartition(3).write.parquet(staged)

    stream = read_events_stream(spark, staged, glob="*.parquet")
    q = start_memory_sink(stream.select("event_id", "ts"), "t_st1_glob",
                          "append")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches > 1, "staged 3 files but ran a single batch"
    streamed = sorted(map(tuple, spark.sql("SELECT * FROM t_st1_glob")
                          .collect()))
    assert streamed == sorted(map(tuple, ev.select("event_id", "ts")
                                  .collect()))


def test_st7_foreach_batch_upsert(spark, sf_dir):
    target = tempfile.mkdtemp(prefix="dws_st7_")
    shutil.rmtree(target, ignore_errors=True)
    stream = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    q = run_foreach_batch_upsert(stream, target + "/t", ["user_id", "ts"])
    q.awaitTermination()
    ev = load_table(spark, sf_dir, "events")
    written = spark.read.parquet(target + "/t")
    assert written.count() == ev.dropDuplicates(["user_id", "ts"]).count()


def test_st7_crash_after_write_before_checkpoint_recovers(spark, sf_dir,
                                                          tmp_path):
    """Round-9 ask #7: st7 is the reference's ON CONFLICT load path
    (trips_lambda.py:180-206), so it gets the same crash-recovery
    certification u3 got in round 8 — kill the stream AFTER batch N's
    data commit but BEFORE the checkpoint commit (the at-least-once
    window), restart on the intact checkpoint, and the merged state
    must equal a clean one-run state: the replayed epoch's upsert is a
    key-level no-op, never a duplicate."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_warehouse_spark.streaming import jobs

    src_schema = "user_id long, ts timestamp, value double"
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    staged = str(tmp_path / "in")
    ev.repartition(3).write.mode("overwrite").parquet(staged)

    def stream():
        return (spark.readStream.format("parquet").schema(src_schema)
                .option("maxFilesPerTrigger", 1).load(staged))

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path)
                          .select("user_id", "ts", "value").collect()))

    # clean single-run baseline into its own target
    baseline = str(tmp_path / "baseline")
    jobs.run_foreach_batch_upsert(stream(), baseline + "/t",
                                  ["user_id", "ts"]).awaitTermination()

    # crashing run: epoch 0's merge commits, then the stream dies
    # before Spark checkpoints the epoch
    target = str(tmp_path / "crashy")
    fired = []

    def boom(epoch_id):
        if not fired:
            fired.append(epoch_id)
            raise RuntimeError("injected crash after data commit")

    jobs._st7_post_batch_hook = boom
    try:
        q = jobs.run_foreach_batch_upsert(stream(), target + "/t",
                                          ["user_id", "ts"])
        with pytest.raises(StreamingQueryException):
            q.awaitTermination()
    finally:
        jobs._st7_post_batch_hook = None
    assert fired == [0]  # the crash really hit the post-commit window

    # restart on the SAME checkpoint: epoch 0 replays (at-least-once),
    # remaining files process; final state == one clean run
    jobs.run_foreach_batch_upsert(stream(), target + "/t",
                                  ["user_id", "ts"]).awaitTermination()
    assert rows(target + "/t") == rows(baseline + "/t")


def test_st5_watermark_drops_late_file(spark, sf_dir):
    """ST5: a second micro-batch of rows older than the watermark must
    not appear in the append-mode windowed output, and the finalized
    windows must match the batch aggregate of the on-time subset."""
    from data_warehouse_spark.queries.registry import load_all

    out = {(r["win_start"], r["event_type"]): r["n"]
           for r in load_all()["st5_watermark_late_drop"].fn(spark, sf_dir).collect()}

    ev = load_table(spark, sf_dir, "events")
    split = "2024-01-08 00:00:00"
    on_time = ev.filter(F.col("ts") >= F.lit(split).cast("timestamp"))
    batch = {(r["s"], r["event_type"]): r["n"]
             for r in (on_time.groupBy(F.window("ts", "1 day").alias("win"),
                                       "event_type")
                       .agg(F.count(F.lit(1)).alias("n"))
                       .select(F.col("win.start").alias("s"),
                               "event_type", "n")).collect()}

    # nothing from the late period (before 2024-01-05) leaks into output:
    # run 2's late file was dropped by the checkpoint-restored watermark
    late_windows = [k for k in out if str(k[0]) < "2024-01-05"]
    assert late_windows == []
    # every emitted (finalized) window agrees exactly with the batch
    # aggregate over on-time rows — late rows changed nothing
    for k, n in out.items():
        assert batch.get(k) == n, (k, n, batch.get(k))


@pytest.mark.slow  # r17: heavyweight lane, out of the default driver gate (pytest.ini)
def test_custom_stateful_running_stats(spark, sf_dir):
    """applyInPandasWithState: the per-user running profile must match
    the batch aggregate after one availableNow pass, and a second run
    over the same checkpoint must ACCUMULATE (proving state persisted),
    not recompute."""
    import tempfile

    from data_warehouse_spark.streaming.jobs import running_user_stats

    ckpt = tempfile.mkdtemp(prefix="dws_state_")

    def run(name):
        stream = read_events_stream(spark, sf_dir)
        q = (running_user_stats(stream).writeStream.format("memory")
             .queryName(name).outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # keep each user's final (largest n_events) update; ignore expiry rows
        rows = spark.sql(f"SELECT * FROM {name} WHERE NOT expired").collect()
        out = {}
        for r in rows:
            if r.user_id not in out or r.n_events > out[r.user_id][0]:
                out[r.user_id] = (r.n_events, round(r.sum_value, 6))
        return out

    got = run("state_r1")
    ev = load_table(spark, sf_dir, "events")
    want = {r.user_id: (r.n, round(r.s, 6))
            for r in ev.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")).collect()}
    assert got == want


def test_st9_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch interval join's row set (inner joins emit on match; the
    availableNow drain flushes everything)."""
    from data_warehouse_spark.streaming.jobs import attribution_join

    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase")
    q = start_memory_sink(attribution_join(clicks, purchases),
                          "t_st9", "append")
    q.awaitTermination()
    streamed = {(r.click_id, r.purchase_id)
                for r in spark.sql("SELECT * FROM t_st9").collect()}

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"))
    batch = {(r.click_id, r.purchase_id)
             for r in c.join(p, F.expr(
                 "c_user = p_user AND purchase_ts >= click_ts "
                 "AND purchase_ts <= click_ts + INTERVAL 2 hours")).collect()}
    assert streamed == batch and len(batch) > 0


def test_st11_retry_dedup_drops_every_redelivery(spark, sf_dir):
    """The retried stream carries 1.25x the events; after
    dropDuplicatesWithinWatermark the per-type counts must equal the
    raw log's (every retry dropped, no original lost)."""
    from data_warehouse_spark.queries.registry import load_all

    out = {(r.event_type, r.n) for r in
           load_all()["st11_dedup_retries"].fn(spark, sf_dir).collect()}
    raw = {(r.event_type, r.n) for r in
           load_table(spark, sf_dir, "events")
           .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert out == raw and len(out) > 0


def test_st10_microbatch_plans_broadcast_join(spark, sf_dir):
    """SCALE.md's st10 claim on the real streaming engine: each
    micro-batch must plan the dim side as a BroadcastHashJoin with no
    stream-stream state, and the result must equal the batch join."""
    from data_warehouse_spark.streaming.jobs import start_memory_sink

    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    agg = (stream.join(F.broadcast(dim), on="user_id")
           .groupBy("segment").agg(F.count(F.lit(1)).alias("n")))
    q = start_memory_sink(agg, "t_st10", "complete")
    q.awaitTermination()
    # the last micro-batch's physical plan (explainInternal returns the
    # string PySpark's q.explain() would print)
    plan_str = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan_str
    assert "StreamingSymmetricHashJoin" not in plan_str

    streamed = {(r.segment, r.n)
                for r in spark.sql("SELECT * FROM t_st10").collect()}
    ev = load_table(spark, sf_dir, "events")
    batch = {(r.segment, r.n) for r in
             ev.join(dim, on=ev.user_id == dim.user_id)
             .groupBy("segment").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert streamed == batch and streamed


def test_streaming_stateful_operators_plan_as_claimed(spark, sf_dir):
    """The stateful claims, checked on executed micro-batch plans:
    st9's interval join runs as StreamingSymmetricHashJoin (bounded
    two-side state), st6 as StreamingDeduplicate, st11 as the
    WithinWatermark variant (ts-less key, still state-evicted)."""
    from data_warehouse_spark.streaming.jobs import (
        attribution_join, dedup_retries_stream, dedup_stream,
        start_memory_sink,
    )

    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase")
    q9 = start_memory_sink(attribution_join(clicks, purchases),
                           "t_plan9", "append")
    q9.awaitTermination()
    assert "StreamingSymmetricHashJoin" in q9._jsq.explainInternal(False)

    q6 = start_memory_sink(
        dedup_stream(read_events_stream(spark, sf_dir))
        .groupBy("event_type").count(), "t_plan6", "complete")
    q6.awaitTermination()
    p6 = q6._jsq.explainInternal(False)
    assert "StreamingDeduplicate" in p6

    q11 = start_memory_sink(
        dedup_retries_stream(read_events_stream(spark, sf_dir),
                             keys=["event_id"])
        .groupBy("event_type").count(), "t_plan11", "complete")
    q11.awaitTermination()
    p11 = q11._jsq.explainInternal(False)
    assert "WithinWatermark" in p11


def test_u3_microbatch_append_commit_semantics(spark, sf_dir):
    """U3's registry oracle certifies the final table state; this pins
    the part SQL can't see — the commit loop itself: the staged 4-file
    source yields >=2 micro-batches, every batch logged a commit whose
    rows sum to the source total, no batch committed empty, and the
    sink holds exactly the source rows (append = each row once)."""
    import json
    import os

    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.queries.registry import load_all
    from data_warehouse_spark.scratch import process_dir

    fn = load_all()["u3_microbatch_write"].fn
    result = {r.event_type: r.n for r in fn(spark, sf_dir).collect()}

    n_src = load_table(spark, sf_dir, "events").count()
    assert sum(result.values()) == n_src

    base = os.path.join(process_dir("dws_scratch"), "u3_microbatch")
    with open(os.path.join(base, "commits.jsonl")) as fh:
        commits = [json.loads(line) for line in fh if line.strip()]
    assert len(commits) >= 2, commits  # one per staged file (4 files)
    assert all(c["rows"] > 0 for c in commits)
    assert sum(c["rows"] for c in commits) == n_src
    # epochs strictly increasing — each commit is a distinct batch
    epochs = [c["epoch"] for c in commits]
    assert epochs == sorted(set(epochs))
    # the sink's physical state matches the committed total
    assert spark.read.parquet(base + "/t").count() == n_src


def test_u3_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash between the data commit
    and the checkpoint commit replays the epoch. The append sink must
    therefore be replay-idempotent — epoch-keyed overwrite, not blind
    append. Simulate the worst case (EVERY epoch replays: wipe the
    checkpoint, rerun the identical source into the same target): the
    table must hold each source row exactly once, not twice, and the
    commit log must carry one record per epoch."""
    import json
    import shutil

    from data_warehouse_spark.io import load_table
    from data_warehouse_spark.streaming.jobs import run_microbatch_append

    staged = str(tmp_path / "in")
    target = str(tmp_path / "t")
    log = str(tmp_path / "commits.jsonl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    ev.repartition(3).write.mode("overwrite").parquet(staged)
    n_src = ev.count()

    def run():
        stream = (spark.readStream.format("parquet")
                  .schema("event_id long, user_id long, "
                          "event_type string, ts timestamp, value double")
                  .option("maxFilesPerTrigger", 1).load(staged))
        q = run_microbatch_append(stream, target, log)
        q.awaitTermination()

    run()
    assert spark.read.parquet(target).count() == n_src
    shutil.rmtree(target + "_ckpt")  # lose ALL progress -> full replay
    run()
    assert spark.read.parquet(target).count() == n_src  # not 2x
    with open(log) as fh:
        commits = [json.loads(line) for line in fh if line.strip()]
    assert sorted(c["epoch"] for c in commits) == \
        sorted(set(c["epoch"] for c in commits))  # one record per epoch
    assert sum(c["rows"] for c in commits) == n_src


def test_st12_multibatch_arrival_matches_batch_x2e(spark, sf_dir, tmp_path):
    """ST12's claim under REAL multi-batch arrival: the documents are
    staged into 4 files and streamed one file per trigger, so the
    incremental-dedup join runs across >= 4 micro-batches; the final
    appended state must equal the batch x2e computation row-for-row
    (the file->batch slicing must not change the result), and the
    per-batch progress must confirm more than one batch actually ran."""
    from data_warehouse_spark.queries.registry import load_all
    from data_warehouse_spark.streaming.jobs import (
        read_documents_stream, start_memory_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = str(tmp_path / "docs_staged")
    docs.repartition(4).write.parquet(staged)

    idx = (docs.filter(F.col("doc_id") % 10 != 0)
           .groupBy(F.sha2("text", 256).alias("h"))
           .agg(F.min("doc_id").alias("dup_of")))
    stream = read_documents_stream(spark, staged, glob="*.parquet")
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
    q = start_memory_sink(flagged, "t_st12", "append")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress
                     if p["numInputRows"] > 0])
    assert n_batches >= 2, "staged 4 files but ran a single batch"

    streamed = {(r.doc_id, r.dup_of, r.is_dup)
                for r in spark.sql("SELECT * FROM t_st12").collect()}
    batch = {(r.doc_id, r.dup_of, r.is_dup)
             for r in load_all()["x2e_incremental_dedup"]
             .fn(spark, sf_dir).collect()}
    assert streamed == batch and len(batch) > 0


def test_st12_plans_stateless_broadcast_no_state_store(spark, sf_dir):
    """ST12's zero-state claim on the real streaming engine: the
    per-micro-batch plan must join the static index as a
    BroadcastHashJoin with NO stateful operator at all — no
    symmetric-hash stream join, no StreamingDeduplicate, no
    StateStore — because the dedup state lives in the persisted index,
    not the stream."""
    from data_warehouse_spark.streaming.jobs import (
        read_documents_stream, start_memory_sink,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = (docs.filter(F.col("doc_id") % 10 != 0)
           .groupBy(F.sha2("text", 256).alias("h"))
           .agg(F.min("doc_id").alias("dup_of")))
    stream = read_documents_stream(spark, sf_dir)
    flagged = (stream.select("doc_id", F.sha2("text", 256).alias("h"))
               .join(F.broadcast(idx), on="h", how="left"))
    q = start_memory_sink(flagged, "t_st12_plan", "append")
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan
    for stateful in ("StreamingSymmetricHashJoin", "StreamingDeduplicate",
                     "StateStore"):
        assert stateful not in plan, (
            f"st12's stateless claim violated: {stateful} in plan")
