#!/usr/bin/env python3
"""The warehouse benchmark: one command per workload, every check.

    python3 warehouse_bench/run.py --workload trips_etl --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. One process drives the engine as a single
closed-loop client on local[<cores>]. It sets up once (session start,
input generation from --seed, warm-up) and reports that time as setup_s.
The measured phase runs whole passes of ops until it has both run the
workload's MIN_OPS and lasted --seconds, so every run measures the same
mix. Then every op's output is checked against a DuckDB oracle. The last
line of stdout is the result JSON; the line before it is a detail report
(environment, input sizes, tail percentile, check results), also written
to warehouse_bench/.work/reports/.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
runs MIN_OPS ops untraced and MIN_OPS traced, in alternating passes, and
prints the per-layer metrics, including the tracing overhead (traced
minus untraced op_p50_s).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DRIVER_MEM = "3g"
# end-to-end metrics (trace 0): name -> (unit, better)
E2E = {
    "setup_s": ("s", "lower"), "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"), "rows_per_s": ("rows/s", "higher"),
    "ok_frac": ("ratio", "higher"),
    "write_amp": ("x", "lower"), "space_amp": ("x", "lower"),
    "peak_rss_mb": ("MB", "lower"), "dedup_recall": ("ratio", "higher"),
}
# Metrics a workload has no meaning for (nothing written, nothing to
# deduplicate). Every result must carry every metric, so these print the
# neutral 1.0 and are listed under "not_applicable" in the detail line.
WORKLOAD_METRICS = {"write_amp", "space_amp", "dedup_recall"}
# layers with status-store counters per span
LAYERS = ["io", "sources", "etl.trips", "operators.merge", "queries",
          "functions.text", "operators.dedup", "operators.graph", "streaming"]
# per-layer metrics (trace 1): name -> (unit, better). A workload that
# does not call into a layer reports 0 for it.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "io.scan_s": ("s", "lower"), "io.files_read": ("count", "lower"),
    "io.rows_read_per_row_out": ("ratio", "lower"),
    "io.input_bytes": ("bytes", "lower"), "io.write_s": ("s", "lower"),
    "io.files_written": ("count", "lower"),
    "sources.parse_s": ("s", "lower"),
    "etl.trips.build_s": ("s", "lower"),
    "operators.merge.merge_s": ("s", "lower"),
    "operators.merge.partitions_rewritten": ("count", "lower"),
    "operators.merge.bytes_written": ("bytes", "lower"),
    "operators.merge.rows_rewritten_per_row_changed": ("ratio", "lower"),
    "operators.merge.target_files": ("count", "lower"),
    "queries.plan_s": ("s", "lower"), "queries.exec_s": ("s", "lower"),
    "queries.jobs_per_query": ("count", "lower"),
    "queries.tasks_per_query": ("count", "lower"),
    "functions.text.filter_s": ("s", "lower"),
    "functions.xxh64_np.hash_mb_per_s": ("MB/s", "higher"),
    "operators.dedup.signature_s": ("s", "lower"),
    "operators.dedup.lsh_s": ("s", "lower"),
    "operators.dedup.candidates_per_pair": ("ratio", "lower"),
    "operators.graph.components_s": ("s", "lower"),
    "operators.graph.jobs": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"), "streaming.plan_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"), "streaming.commit_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "trace.overhead_s": ("s", "lower"),
} | {f"{layer}.{k}": u for layer in LAYERS for k, u in (
    ("tasks", ("count", "lower")), ("failed_tasks", ("count", "lower")),
    ("gc_s", ("s", "lower")), ("shuffle_bytes", ("bytes", "lower")),
    ("busy_frac", ("ratio", "higher")))}


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_env(work: Path) -> int:
    """Pin everything the engine reads from the environment, and keep
    every file the run writes inside `work`."""
    cpus = len(os.sched_getaffinity(0))
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    return cpus


def tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it ->
    (value, percentile, samples beyond): the eleventh-slowest sample.
    Below 20 samples that percentile would fall under the median, so
    the slowest sample is reported instead."""
    xs = sorted(lat)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100 * (n - 10) / n, 10


class Ctx:
    def __init__(self, seed: int, tracer):
        self.seed, self.tracer = seed, tracer
        self.session = None
        self.count_io = False

    def spark(self):
        return self.session


def start_session(work: Path):
    from data_warehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("warehouse_bench", extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "spark-local"),
        # the heap is committed whole at start, so how far it has grown
        # at a sample does not move peak_rss_mb
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    })
    dt_ = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt_


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:                   # noqa: BLE001
            proc.kill()
            proc.wait()


def layer_stats(views: list[dict], layer: str, cpus: int) -> dict:
    """Per-op medians of a layer's self counters (from status-store
    deltas), and its busy fraction: task time / (self wall x cores)."""
    per: dict[int, dict] = {}
    wall = task = 0.0
    for v in views:
        if v["layer"] != layer:
            continue
        st = v["status"]
        acc = per.setdefault(v["op"], dict.fromkeys(("t", "f", "g", "s"), 0.0))
        acc["t"] += st.get("completedTasks", 0)
        acc["f"] += st.get("failedTasks", 0)
        acc["g"] += st.get("totalGCTime", 0) / 1000
        acc["s"] += st.get("totalShuffleWrite", 0)
        wall += v["wall"]
        task += st.get("totalDuration", 0) / 1000

    def med(k):
        return float(statistics.median(a[k] for a in per.values())) if per else 0.0
    return {f"{layer}.tasks": med("t"), f"{layer}.failed_tasks": med("f"),
            f"{layer}.gc_s": med("g"), f"{layer}.shuffle_bytes": med("s"),
            f"{layer}.busy_frac": task / (wall * cpus) if wall > 0 else 0.0}


def run(args, work: Path, cpus: int) -> tuple[dict, dict]:
    import duckdb
    import pyspark
    from pyspark import SparkContext

    import workloads
    from spans import PssSampler, Tracer

    tracer = Tracer(None, enabled=False)
    ctx = Ctx(args.seed, tracer)
    tracer._spark = ctx.spark
    t0 = time.perf_counter()
    ctx.session, start_s = start_session(work)
    sampler = PssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.setup(work / "data")
    setup_s = time.perf_counter() - t0

    spark = ctx.session
    sampler.reset()
    if args.trace:
        # untraced and traced passes alternate, so both halves run as
        # warm a JVM and as loaded a host
        wl.install_trace()
        ops_u, ops_t = [], []
        while len(ops_t) < wl.MIN_OPS:
            for traced, dst in ((False, ops_u), (True, ops_t)):
                tracer.enabled, ctx.count_io = traced, not traced
                dst += wl.run_pass(len(ops_u) + len(ops_t))
        tracer.enabled = ctx.count_io = False
        ops = ops_u + ops_t
    else:
        ops = wl.measure(args.seconds)
    sampler.sample()
    peak_mb = sampler.peak_kb / 1024
    sampler.stop()

    res = wl.check(ops)
    failed_ops = {o["op"] for o in ops if o["error"] is not None} | \
        (res["failed_ops"] & {o["op"] for o in ops})
    n, k = len(ops), len(failed_ops)
    lat = [math.inf if o["op"] in failed_ops else o["latency_s"] for o in ops]
    tail_v, tail_p, beyond = tail(lat)
    ok_rows = sum(o["rows"] for o in ops if o["op"] not in failed_ops)
    engine_s = wl.engine_seconds(ops)
    applies = wl.own_metrics()

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ops": n, "failed": k, "failed_frac": k / max(1, n),
        "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
        "op_tail": {"percentile": tail_p, "samples": n, "beyond": beyond},
        "op_latencies_s": [o["latency_s"] for o in ops],
        "measured_s": engine_s, "session_start_s": start_s,
        "not_applicable": sorted(WORKLOAD_METRICS - set(applies)),
        "inputs": wl.input_sizes(),
        "check": {k_: (sorted(v) if isinstance(v, set) else v) for k_, v in res.items()},
        "env": {
            "cpus": cpus, "master": f"local[{cpus}]",
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        },
    }
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "rows_per_s": ok_rows / engine_s if engine_s > 0 else 0.0,
            "ok_frac": (n - k) / n,
            "peak_rss_mb": peak_mb,
        } | dict.fromkeys(WORKLOAD_METRICS, 1.0) | applies
        metrics = {m: (values[m], u) for m, (u, _) in E2E.items()}
    else:
        views = tracer.self_view()
        tracer.write(str(WORK / "reports" / f"spans-{args.workload}-s{args.seed}.jsonl"))
        io_bytes = [o["input_bytes"] for o in ops_u if "input_bytes" in o]
        lm = {"session.start_s": start_s,
              "io.scan_s": workloads.span_time(views, "io.scan"),
              "io.write_s": workloads.span_time(views, "io.write"),
              "io.input_bytes": statistics.median(io_bytes) if io_bytes else 0.0,
              "io.files_written": workloads.span_count(views, "io.write", "files_written"),
              "trace.overhead_s": (statistics.median(o["latency_s"] for o in ops_t)
                                   - statistics.median(o["latency_s"] for o in ops_u))}
        for layer in LAYERS:
            lm |= layer_stats(views, layer, cpus)
        lm |= wl.layer_counts(views, ops_t)
        unknown = set(lm) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {m: (float(lm.get(m, 0.0)), u) for m, (u, _) in PER_LAYER.items()}
        detail["traced_ops"] = len(ops_t)
    result = {"correct": k == 0, "attempted": n, "failed": k,
              "metrics": {m: {"value": float(v), "unit": u} for m, (v, u) in metrics.items()}}
    return detail, result


def main(argv=None) -> int:
    sys.path[:0] = [str(HERE), str(ROOT)]
    args = parse_args(argv)
    import data_warehouse_spark  # noqa: F401 - fail fast without the engine

    work = WORK / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (WORK / "reports").mkdir(exist_ok=True)
    cpus = pin_env(work)

    try:
        detail, result = run(args, work, cpus)
    finally:
        from pyspark.sql import SparkSession
        shutdown_jvm(SparkSession.getActiveSession())
        shutil.rmtree(work, ignore_errors=True)
    report = WORK / "reports" / f"report-{args.workload}-s{args.seed}-t{args.trace}.json"
    report.write_text(json.dumps({"detail": detail, "result": result}, indent=1))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
