"""The four benchmark workloads.

Each workload generates its inputs from the seed (gen.py), prepares its
state and warms up, then runs ops in a closed loop (one client: the next
op starts when the previous one returned). After the measured phase,
and untimed, `check()` compares every op's output with an independent
DuckDB oracle (checks.py) and returns the indices of the ops that were
wrong.

Only the engine's public functions are called. In a traced run the
workload wraps each call into a layer in a span, and materialises the
intermediate at the layer boundary (localCheckpoint, or a noop scan) so
each span holds its own work; see spans.py.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

import checks
import gen

# --- helpers ----------------------------------------------------------


def list_files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two listings."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def du(*roots: str) -> int:
    return sum(v[0] for r in roots for v in list_files(r).values())


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p.removeprefix("file:")).metadata.num_rows
               for p in paths)


def _median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


class Workload:
    """Base: generic closed loop over run_op()."""

    name = ""
    MIN_OPS = 1         # ops every measured phase runs, however fast
    PASS_OPS = 1        # ops that always run together, as one pass

    def __init__(self, ctx):
        self.ctx = ctx                       # harness context (run.py)
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed

    # set-up: inputs + state + warm-up, into a fresh directory
    def setup(self, d: Path) -> None:
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed per-op input staging."""

    def run_op(self, i: int) -> int:
        """One op; returns its input rows."""
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed per-op bookkeeping."""

    def measure(self, seconds: float) -> list[dict]:
        """Whole passes, until at least MIN_OPS ops ran and `seconds`
        went by. The op count, not the clock, sizes a run on a slow
        commit, so two commits compare the same mix of ops."""
        ops = []
        t_end = time.perf_counter() + seconds
        while ((len(ops) < self.MIN_OPS or time.perf_counter() < t_end)
               and len(ops) + self.PASS_OPS <= self.max_ops()):
            ops += self.run_pass(len(ops))
        return ops

    def run_pass(self, first: int) -> list[dict]:
        return [self._timed_op(i) for i in range(first, first + self.PASS_OPS)]

    def _timed_op(self, i: int) -> dict:
        self.before_op(i)
        self.tr.op = i
        io0 = self._io_bytes()
        t0 = time.perf_counter()
        err = None
        try:
            rows = self.run_op(i)
        except Exception as e:               # noqa: BLE001 - counted failed
            rows, err = 0, f"{type(e).__name__}: {e}"[:300]
        lat = time.perf_counter() - t0
        op = {"op": i, "latency_s": lat, "rows": rows, "error": err}
        if io0 is not None:
            op["input_bytes"] = self._io_bytes() - io0
        self.after_op(i)
        return op

    def _io_bytes(self):
        """Bytes read by scans so far, when the harness asks for it."""
        if not self.ctx.count_io:
            return None
        from spans import status_snapshot
        return status_snapshot(self.spark())["totalInputBytes"]

    def engine_seconds(self, ops) -> float:
        return sum(o["latency_s"] for o in ops)

    def max_ops(self) -> int:
        return 10**9

    def check(self, ops: list[dict]) -> dict:
        """-> {"failed_ops": set of op indices, ...detail}"""
        raise NotImplementedError

    def own_metrics(self) -> dict[str, float]:
        """The end-to-end metrics only some workloads have (write_amp,
        space_amp, dedup_recall), measured after check()."""
        return {}

    def input_sizes(self) -> dict:
        return {}

    def layer_counts(self, views: list[dict], ops: list[dict]) -> dict:
        """Workload-specific per-layer metrics of a traced run."""
        return {}


def span_time(views, name, ops_idx=None) -> float:
    """Median over ops of the summed self time of spans called `name`."""
    per = {}
    for v in views:
        if v["name"] == name and (ops_idx is None or v["op"] in ops_idx):
            per[v["op"]] = per.get(v["op"], 0.0) + v["wall"]
    return _median(per.values())


def span_count(views, name, key, agg=sum) -> float:
    per = {}
    for v in views:
        if v["name"] == name and key in v["counts"]:
            per.setdefault(v["op"], []).append(v["counts"][key])
    return _median(agg(x) for x in per.values())


# --- trips_etl ----------------------------------------------------------

class TripsEtl(Workload):
    """The reference's daily pipeline, run hourly: land a cycle of GBFS
    snapshots, parse and append them to the dt-partitioned bike_status
    log, then rebuild the trailing 24 h of trips and merge them into the
    all_trips fact table. Cycles are 1 h apart, so every trip is merged
    about 24 times and the merge's update path runs."""

    name = "trips_etl"
    N_BIKES = 300
    CYCLE = 12                   # snapshots per cycle: 1 h of 5-min data
    HISTORY = 23 * 12            # snapshots preloaded at set-up
    WARMUP_OPS = 2
    MIN_OPS = 6
    MAX_OPS = 48

    def setup(self, d: Path) -> None:
        import pyarrow.parquet as pq

        from data_warehouse_spark.io import write_partitioned

        self.d = d
        inputs = d / "inputs"
        inputs.mkdir(parents=True)
        self.log, self.fact = str(d / "bike_status"), str(d / "all_trips")
        n_snap = self.HISTORY + self.CYCLE * (self.WARMUP_OPS + self.MAX_OPS)
        self.fleet = gen.GbfsFleet(self.seed, self.N_BIKES, n_snap)
        self.fleet.write_truth(str(inputs / "truth.json"))
        # history: the warehouse already holds the last 23 h of the log
        pq.write_table(self.fleet.status_table(0, self.HISTORY),
                       str(inputs / "history.parquet"))
        write_partitioned(self.spark().read.parquet(str(inputs / "history.parquet")),
                          self.log, ts_col="timestamp")
        self.windows = []            # (window_start, window_end, op) in run order
        self.write_bytes = 0
        for w in range(self.WARMUP_OPS):
            self.before_op(w - self.WARMUP_OPS)
            self.run_op(w - self.WARMUP_OPS)
        self.write_bytes = 0
        self.measured = []

    def _cycle(self, i: int) -> int:
        """First snapshot of op i's cycle (warm-up ops have i < 0)."""
        return self.HISTORY + self.CYCLE * (i + self.WARMUP_OPS)

    def max_ops(self) -> int:
        return self.MAX_OPS

    def before_op(self, i: int) -> None:
        self.landing = str(self.d / "inputs" / f"cycle_{i + self.WARMUP_OPS:04d}.json")
        self.fleet.write_cycle(self.landing, self._cycle(i), self.CYCLE)
        self._before = list_files(str(self.d / "bike_status")) | list_files(self.fact)

    def run_op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from data_warehouse_spark.etl.trips import run_incremental
        from data_warehouse_spark.io import write_partitioned
        from data_warehouse_spark.sources.rest_json import parse_gbfs

        spark, tr = self.spark(), self.tr
        with tr.span("sources.parse_gbfs", "sources"):
            rows = parse_gbfs(spark.read.text(self.landing), body_col="value").select(
                "bike_id", "provider_id", "lat", "lon", "is_reserved",
                "is_disabled", F.col("observed_at").alias("timestamp"))
            if tr.enabled:
                rows = rows.localCheckpoint(eager=True)
        with tr.span("io.write", "io") as s:
            before = list_files(self.log) if tr.enabled else None
            write_partitioned(rows, self.log, ts_col="timestamp", mode="append")
            if s is not None:
                after = list_files(self.log)
                s.counts["files_written"] = sum(1 for p in after if p not in before
                                                and p.endswith(".parquet"))
        end = self.fleet.ts(self._cycle(i) + self.CYCLE)
        start = end - dt.timedelta(hours=24)
        with tr.span("etl.trips.run_incremental", "etl.trips"):
            run_incremental(spark, self.log, self.fact, start, end)
        self.windows.append((start, end, i))
        return self.CYCLE * self.N_BIKES

    def after_op(self, i: int) -> None:
        if i >= 0:
            after = list_files(self.log) | list_files(self.fact)
            self.write_bytes += written_bytes(self._before, after)
            self.measured.append(i)

    def check(self, ops):
        upto = self._cycle(max(self.measured, default=-1)) + self.CYCLE
        res = checks.check_trips(
            self.fleet, self._cycle(0), upto,
            lambda s: (s - self.HISTORY) // self.CYCLE - self.WARMUP_OPS,
            self.log, self.fact, self.windows, str(self.d / "oracle"))
        self._res = res
        return res

    def own_metrics(self):
        r = self._res
        return {"write_amp": self.write_bytes / max(1, r["compact_changed_bytes"]),
                "space_amp": du(self.log, self.fact) / max(1, r["compact_live_bytes"])}

    def input_sizes(self):
        return {"bikes": self.N_BIKES, "snapshot_s": gen.SNAPSHOT_S,
                "rows_per_op": self.CYCLE * self.N_BIKES,
                "window_rows": 24 * 12 * self.N_BIKES,
                "history_rows": self.HISTORY * self.N_BIKES}

    def install_trace(self):
        """Wrap the layer calls run_incremental makes, so the scan, the
        trip build and the merge each get a span and a materialised
        boundary."""
        import data_warehouse_spark.etl.trips as trips
        tr = self

        orig_build, orig_merge = trips.build_trips, trips.merge_into_partitioned

        def build_trips(status, *a, **kw):
            if not tr.tr.enabled:
                return orig_build(status, *a, **kw)
            with tr.tr.span("io.scan", "io") as s:
                files = status.inputFiles()
                status = status.localCheckpoint(eager=True)
                s.counts.update(files_read=len(files), rows_read=parquet_rows(files))
            with tr.tr.span("etl.trips.build_trips", "etl.trips") as s:
                out = orig_build(status, *a, **kw).localCheckpoint(eager=True)
                s.counts["rows_out"] = out.count()
            return out

        def merge_into_partitioned(spark, target, new, keys, ts_col):
            return traced_merge(tr.tr, orig_merge, spark, target, new, keys, ts_col)

        trips.build_trips = build_trips
        trips.merge_into_partitioned = merge_into_partitioned

    def layer_counts(self, views, ops):
        rows_read = span_count(views, "io.scan", "rows_read")
        rows_out = span_count(views, "etl.trips.build_trips", "rows_out")
        return {
            "io.files_read": span_count(views, "io.scan", "files_read"),
            "io.rows_read_per_row_out": rows_read / max(1.0, rows_out),
            "io.files_written": span_count(views, "io.write", "files_written"),
            "sources.parse_s": span_time(views, "sources.parse_gbfs"),
            "etl.trips.build_s": span_time(views, "etl.trips.build_trips"),
        } | merge_counts(views)


def traced_merge(tracer, orig, spark, target, new, keys, ts_col):
    """merge_into_partitioned inside an operators.merge span, with its
    write counted from the target directory before and after."""
    if not tracer.enabled:
        return orig(spark, target, new, keys=keys, ts_col=ts_col)
    new = new.localCheckpoint(eager=True)
    changed = new.count()
    before = list_files(target) if os.path.exists(target) else {}
    with tracer.span("operators.merge.merge_into_partitioned",
                     "operators.merge") as s:
        orig(spark, target, new, keys=keys, ts_col=ts_col)
    after = list_files(target)
    fresh = [p for p, v in after.items() if before.get(p) != v and p.endswith(".parquet")]
    s.counts.update(
        partitions_rewritten=len({os.path.dirname(p) for p in fresh}),
        bytes_written=written_bytes(before, after),
        rows_rewritten=parquet_rows(fresh), rows_changed=changed,
        target_files=sum(1 for p in after if p.endswith(".parquet")))
    return None


def merge_counts(views) -> dict:
    name = "operators.merge.merge_into_partitioned"
    rew = span_count(views, name, "rows_rewritten")
    chg = span_count(views, name, "rows_changed")
    return {
        "operators.merge.merge_s": span_time(views, name),
        "operators.merge.partitions_rewritten": span_count(views, name, "partitions_rewritten"),
        "operators.merge.bytes_written": span_count(views, name, "bytes_written"),
        "operators.merge.rows_rewritten_per_row_changed": rew / max(1.0, chg),
        "operators.merge.target_files": span_count(views, name, "target_files", agg=max),
    }


# --- bi_queries ---------------------------------------------------------

BI_QUERIES = {
    # query -> tables it scans (for rows_per_s); all read-only
    "a1_q1_pricing_summary": ["lineitem"],
    "j2_broadcast_join": ["customer", "nation"],
    "j10_star_join": ["orders", "customer", "nation", "region"],
    "j6_asof_join": ["events"],
    "o2_topk_per_group": ["orders"],
    "w5_sessionize": ["events"],
    "e1_trips": ["events"],
    "st4_session_window": ["events"],
    "e2_carbon_savings": ["events"],
    "e3_enriched_trips": ["events", "events"],
    "j9_spatial_join": ["events"],
    "a11_cube": ["orders"],
}
BI_SCALE = 0.02
BI_MAX_PASSES = 50


class BiQueries(Workload):
    """Passes over twelve read-only analyst queries from the registry,
    each run to a noop sink; every pass runs all twelve, in a seeded
    shuffled order. Inputs are small, so fixed per-query costs
    (planning, job and task launch, Python<->JVM hops) dominate."""

    name = "bi_queries"
    PASS_OPS = len(BI_QUERIES)
    MIN_OPS = PASS_OPS

    def setup(self, d: Path) -> None:
        from data_warehouse_spark.queries.registry import load_all

        self.d = d
        self.sf = str(d / "sf")
        self.rows = gen.bi_tables(self.sf, self.seed, BI_SCALE)
        self.specs = load_all()
        rng = np.random.default_rng([self.seed, 5])
        names = sorted(BI_QUERIES)
        self.sequence = [names[j] for _ in range(BI_MAX_PASSES)
                         for j in rng.permutation(len(names))]
        # The check runs here, not after the measured phase: the queries
        # are read-only over inputs nothing changes, so their results are
        # the same before and after, and the check's run of each query is
        # also its warm-up run (the first run compiles and loads what
        # later runs reuse).
        self.bad = checks.check_bi(self.spark(), self.specs, self.sf, names)

    def _run(self, q: str):
        spark, tr = self.spark(), self.tr
        with tr.span("queries.build", "queries"):
            df = self.specs[q].fn(spark, self.sf)
        with tr.span("queries.plan", "queries"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec", "queries"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def run_op(self, i: int) -> int:
        q = self.sequence[i]
        self._last = self._run(q)
        return sum(self.rows[t] for t in BI_QUERIES[q])

    def after_op(self, i: int) -> None:
        if self.tr.enabled:
            self._out_rows[i] = self._last.count()

    def max_ops(self) -> int:
        return len(self.sequence)

    def check(self, ops):
        return {"failed_ops": {o["op"] for o in ops if self.sequence[o["op"]] in self.bad},
                "bad_queries": sorted(self.bad), "queries_checked": sorted(BI_QUERIES)}

    def input_sizes(self):
        return {"scale": BI_SCALE, "rows": self.rows,
                "bytes_on_disk": du(self.sf)}

    def install_trace(self):
        """Wrap io.load_table in every query module so each table scan
        gets an io span (a noop scan of the loaded table) and its files
        and rows are counted."""
        import importlib
        import data_warehouse_spark.io as dio

        self._out_rows = {}
        tr, orig = self.tr, dio.load_table

        def load_table(spark, sf_dir, name):
            df = orig(spark, sf_dir, name)
            if not tr.enabled:
                return df
            with tr.span("io.scan", "io") as s:
                files = df.inputFiles()
                df.write.format("noop").mode("overwrite").save()
                s.counts.update(files_read=len(files), rows_read=parquet_rows(files))
            return df

        for mod in ("sessions", "joins", "relational", "windows",
                    "streaming_batch", "udfs"):
            m = importlib.import_module(f"data_warehouse_spark.queries.{mod}")
            if hasattr(m, "load_table"):
                m.load_table = load_table

    def layer_counts(self, views, ops):
        q = [v for v in views if v["layer"] == "queries"]
        per_op_jobs, per_op_tasks = {}, {}
        for v in q:
            per_op_jobs[v["op"]] = per_op_jobs.get(v["op"], 0) + v["status"].get("jobs", 0)
            per_op_tasks[v["op"]] = per_op_tasks.get(v["op"], 0) + v["status"].get("completedTasks", 0)
        rows_read = {}
        for v in views:
            if v["name"] == "io.scan":
                rows_read[v["op"]] = rows_read.get(v["op"], 0) + v["counts"]["rows_read"]
        ratio = [rows_read[o] / max(1, n) for o, n in self._out_rows.items() if o in rows_read]
        return {
            "io.files_read": span_count(views, "io.scan", "files_read"),
            "io.rows_read_per_row_out": _median(ratio),
            "queries.plan_s": span_time(views, "queries.plan"),
            "queries.exec_s": span_time(views, "queries.exec"),
            "queries.jobs_per_query": _median(per_op_jobs.values()),
            "queries.tasks_per_query": _median(per_op_tasks.values()),
        }


# --- corpus_dedup -------------------------------------------------------

CORPUS_DOCS = 1_000
QUALITY_MIN = 0.5


class CorpusDedup(Workload):
    """One op curates the whole generated corpus: quality filter and PII
    redaction, MinHash-LSH near-duplicate pairs, connected components
    over the pairs, then an anti-join that keeps one document per
    component and a parquet write of the kept corpus (the pairs are
    written too, as the curation's audit trail)."""

    name = "corpus_dedup"
    MIN_OPS = 4

    def setup(self, d: Path) -> None:
        self.d = d
        self.truth = gen.corpus(str(d / "inputs"), self.seed, CORPUS_DOCS)
        self.src = str(d / "inputs" / "corpus.parquet")
        self.out = d / "out"
        self._curate(self.src, self.out / "warmup")

    def _curate(self, src: str, out: Path) -> None:
        from pyspark.sql import functions as F

        from data_warehouse_spark.functions.text import quality_score, redact_pii
        from data_warehouse_spark.operators.dedup import minhash_lsh_pairs
        from data_warehouse_spark.operators.graph import connected_components_auto

        spark, tr = self.spark(), self.tr
        with tr.span("io.scan", "io") as s:
            docs = spark.read.parquet(src)
            if tr.enabled:
                s.counts.update(files_read=len(docs.inputFiles()),
                                rows_read=parquet_rows(docs.inputFiles()))
                docs = docs.localCheckpoint(eager=True)
        with tr.span("functions.text.filter", "functions.text"):
            kept = (docs.filter(quality_score(F.col("text")) >= QUALITY_MIN)
                    .withColumn("text", redact_pii(F.col("text"))))
            if tr.enabled:
                kept = kept.localCheckpoint(eager=True)
        # the span opens before the call: the LSH builder already runs
        # jobs while it constructs its DataFrame
        with tr.span("operators.dedup.minhash_lsh_pairs", "operators.dedup"):
            pairs = minhash_lsh_pairs(kept, "text", "doc_id",
                                      jaccard_threshold=gen.JACCARD_THRESHOLD)
            pairs.write.parquet(str(out / "pairs"))
        with tr.span("operators.graph.connected_components_auto", "operators.graph"):
            comps = connected_components_auto(
                spark.read.parquet(str(out / "pairs")), "id_a", "id_b")
            if tr.enabled:
                comps = comps.localCheckpoint(eager=True)
        with tr.span("io.write", "io") as s:
            drop = (comps.filter(F.col("id") != F.col("component_id"))
                    .select(F.col("id").alias("doc_id")))
            kept.join(drop, "doc_id", "left_anti").write.parquet(str(out / "kept"))
            if s is not None:
                files = list_files(str(out / "kept"))
                s.counts.update(files_written=sum(p.endswith(".parquet") for p in files),
                                rows_out=parquet_rows(p for p in files if p.endswith(".parquet")))

    def run_op(self, i: int) -> int:
        self._curate(self.src, self.out / f"op_{i:04d}")
        return self.truth["n_docs"]

    def check(self, ops):
        res = checks.check_corpus(self.src, self.truth,
                                  [(o["op"], str(self.out / f"op_{o['op']:04d}"))
                                   for o in ops if o["error"] is None],
                                  QUALITY_MIN)
        res["failed_ops"] |= {o["op"] for o in ops if o["error"] is not None}
        self._res = res
        return res

    def own_metrics(self):
        return {"dedup_recall": self._res["recall"]}

    def input_sizes(self):
        return {"docs": self.truth["n_docs"],
                "planted_pairs": len(self.truth["planted_pairs"]),
                "corpus_bytes": os.path.getsize(self.src)}

    def install_trace(self):
        import data_warehouse_spark.operators.dedup as dedup
        tr, orig = self.tr, dedup.minhash_signatures

        def minhash_signatures(*a, **kw):
            if not tr.enabled:
                return orig(*a, **kw)
            with tr.span("operators.dedup.minhash_signatures", "operators.dedup"):
                return orig(*a, **kw).localCheckpoint(eager=True)

        dedup.minhash_signatures = minhash_signatures

    def layer_counts(self, views, ops):
        graph = [v for v in views if v["name"] == "operators.graph.connected_components_auto"]
        rows_read = span_count(views, "io.scan", "rows_read")
        return {
            "io.files_read": span_count(views, "io.scan", "files_read"),
            "io.rows_read_per_row_out": rows_read / max(1.0, span_count(views, "io.write", "rows_out")),
            "functions.text.filter_s": span_time(views, "functions.text.filter"),
            "operators.dedup.signature_s": span_time(views, "operators.dedup.minhash_signatures"),
            "operators.dedup.lsh_s": span_time(views, "operators.dedup.minhash_lsh_pairs"),
            "operators.graph.components_s": span_time(views, "operators.graph.connected_components_auto"),
            "operators.graph.jobs": _median(v["status"].get("jobs", 0) for v in graph),
        } | self._dedup_counts(ops)

    def _dedup_counts(self, ops) -> dict:
        """Counts taken beside the traced ops, outside every span:
        band collisions of the corpus's MinHash band index per verified
        pair, and xxh64_bytes throughput on the corpus's shingle bytes
        (the kernel's hash, called directly on the same bytes)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from data_warehouse_spark.functions.text import quality_score, redact_pii
        from data_warehouse_spark.functions.xxh64_np import xxh64_bytes
        from data_warehouse_spark.operators.dedup import minhash_band_index

        spark = self.spark()
        kept = (spark.read.parquet(self.src)
                .filter(quality_score(F.col("text")) >= QUALITY_MIN)
                .withColumn("text", redact_pii(F.col("text"))))
        buckets = minhash_band_index(kept, "text", "doc_id").groupBy("band", "bucket").count()
        collisions = buckets.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        last = max(o["op"] for o in ops)
        pairs = pq.read_table(str(self.out / f"op_{last:04d}" / "pairs")).num_rows
        texts = pc.utf8_lower(pc.utf8_trim(pq.read_table(self.src, columns=["text"])["text"], " "))
        toks = pc.split_pattern_regex(texts, pattern="[ \t\n\x0b\f\r]+")
        flat = pc.list_flatten(toks)
        lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
        # 3-shingles: token i joined with i+1 and i+2 within a document
        start = np.concatenate([[0], np.cumsum(lens)[:-1]])
        idx = np.concatenate([s + np.arange(max(0, n - 2)) for s, n in zip(start, lens)])
        sh = pc.binary_join_element_wise(
            *(pc.take(flat, pa.array(idx + k)) for k in range(gen.SHINGLE_N)), " ")
        sh = pa.concat_arrays(sh.chunks) if isinstance(sh, pa.ChunkedArray) else sh
        offs = np.frombuffer(sh.buffers()[1], np.int32, count=len(sh) + 1,
                             offset=sh.offset * 4).astype(np.int64)
        data = np.frombuffer(sh.buffers()[2], np.uint8)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            xxh64_bytes(data, offs)
            times.append(time.perf_counter() - t0)
        return {"operators.dedup.candidates_per_pair": float(collisions or 0) / max(1, pairs),
                "functions.xxh64_np.hash_mb_per_s":
                    (offs[-1] - offs[0]) / 1e6 / statistics.median(times)}


# --- event_stream -------------------------------------------------------

STREAM_PASS = 6                # files staged per availableNow query
STREAM_WARMUP_FILES = 2
STREAM_FILES = STREAM_WARMUP_FILES + 4 * STREAM_PASS
STREAM_PER_FILE = 500


class EventStream(Workload):
    """A parquet file stream (maxFilesPerTrigger=1, availableNow) over
    event files with planted redeliveries, through dedup_retries_stream
    into run_foreach_batch_upsert. Each micro-batch is one op. A pass
    stages a few files and runs the query until it has drained them:
    the stream starts the next batch only when the previous one
    committed, so the client is closed-loop."""

    name = "event_stream"
    PASS_OPS = STREAM_PASS
    MIN_OPS = STREAM_PASS

    def setup(self, d: Path) -> None:
        self.d = d
        self.inputs = str(d / "inputs")
        self.truth = gen.event_files(self.inputs, self.seed, STREAM_FILES, STREAM_PER_FILE)
        self.src, self.target = str(d / "src"), str(d / "events_fact")
        os.makedirs(self.src)
        self.staged = 0
        self.write_bytes = 0
        self.measured_files = []
        self.pass_walls = []
        self._drain(STREAM_WARMUP_FILES)

    def _stream(self):
        from data_warehouse_spark.streaming.jobs import (
            EVENTS_SCHEMA, dedup_retries_stream, run_foreach_batch_upsert,
        )
        # built here, not with streaming.jobs.read_events_stream: that
        # reader's pathGlobFilter admits only a file named events.parquet,
        # so it can never produce more than one micro-batch
        raw = (self.spark().readStream.format("parquet").schema(EVENTS_SCHEMA)
               .option("maxFilesPerTrigger", 1).load(self.src))
        return run_foreach_batch_upsert(dedup_retries_stream(raw, ["event_id"]),
                                        self.target, keys=["event_id"])

    def _drain(self, n: int) -> tuple[list[str], float, list[dict]]:
        """Stage the next n files and run the query until it has read
        them -> (files, wall seconds, progress of each non-empty batch)."""
        files = self.truth["files"][self.staged:self.staged + n]
        for k, f in enumerate(files):
            dst = os.path.join(self.src, f)
            shutil.copyfile(os.path.join(self.inputs, f), dst)
            # file sources order new files by mtime: pin it to the
            # sequence so arrival order never depends on the clock
            t = 1_700_000_000 + self.staged + k
            os.utime(dst, (t, t))
        self.staged += len(files)
        self._next_op = self.staged - len(files) - STREAM_WARMUP_FILES
        with self.tr.span("streaming.query", "streaming"):
            t0 = time.perf_counter()
            q = self._stream()
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return files, wall, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def max_ops(self) -> int:
        return STREAM_FILES - STREAM_WARMUP_FILES

    def run_pass(self, first: int) -> list[dict]:
        self.tr.op = first
        ckpt = self.target + "_ckpt"
        before = list_files(self.target) | list_files(ckpt)
        io0 = self._io_bytes()
        try:
            files, wall, prog = self._drain(self.PASS_OPS)
        except Exception as e:               # noqa: BLE001 - counted failed
            return [{"op": first + k, "latency_s": float("inf"), "rows": 0,
                     "error": f"{type(e).__name__}: {e}"[:300]}
                    for k in range(self.PASS_OPS)]
        self.write_bytes += written_bytes(before, list_files(self.target) | list_files(ckpt))
        self.measured_files += files
        self.pass_walls.append(wall)
        io = (self._io_bytes() - io0) / self.PASS_OPS if io0 is not None else None
        ops = []
        for k, p in enumerate(prog[:self.PASS_OPS]):
            ops.append({"op": first + k, "rows": p["numInputRows"], "error": None,
                        "latency_s": p["durationMs"]["triggerExecution"] / 1000,
                        "progress": _progress_view(p)})
            if io is not None:
                ops[-1]["input_bytes"] = io
        # every staged file must have produced one batch
        ops += [{"op": first + k, "latency_s": float("inf"), "rows": 0,
                 "error": "missing micro-batch"} for k in range(len(ops), self.PASS_OPS)]
        return ops

    def engine_seconds(self, ops) -> float:
        """Wall time of the measured queries, their start-up included."""
        return sum(self.pass_walls)

    def check(self, ops):
        res = checks.check_events(self.inputs, self.truth,
                                  self.truth["files"][:self.staged],
                                  self.measured_files, self.target,
                                  str(self.d / "oracle"))
        # ids map to files, files to ops in staging order
        first = STREAM_WARMUP_FILES
        res["failed_ops"] = {f - first for f in res["bad_files"] if f >= first} | \
            {o["op"] for o in ops if o["error"] is not None}
        if any(f < first for f in res["bad_files"]) and ops:
            res["failed_ops"].add(0)
        self._res = res
        return res

    def own_metrics(self):
        r = self._res
        return {"write_amp": self.write_bytes / max(1, r["compact_measured_bytes"]),
                "space_amp": du(self.target) / max(1, r["compact_live_bytes"])}

    def input_sizes(self):
        return {"files": STREAM_FILES, "events_per_file": STREAM_PER_FILE,
                "redelivered": self.truth["redelivered"], "files_per_pass": STREAM_PASS}

    def install_trace(self):
        import data_warehouse_spark.streaming.jobs as jobs
        tr, orig, wl = self.tr, jobs.merge_into_partitioned, self

        def merge_into_partitioned(spark, target, new, keys, ts_col):
            # one merge per micro-batch: it runs on the stream's thread,
            # so the op id is counted here
            if tr.enabled:
                tr.op, wl._next_op = wl._next_op, wl._next_op + 1
            return traced_merge(tr, orig, spark, target, new, keys, ts_col)

        jobs.merge_into_partitioned = merge_into_partitioned

    def layer_counts(self, views, ops):
        prog = [o["progress"] for o in ops if "progress" in o]

        def med(k):
            return _median(p[k] for p in prog)
        return {
            "streaming.trigger_s": med("trigger_s"),
            "streaming.plan_s": med("plan_s"),
            "streaming.add_batch_s": med("add_batch_s"),
            "streaming.commit_s": med("commit_s"),
            "streaming.state_rows": max((p["state_rows"] for p in prog), default=0),
            "streaming.state_bytes": max((p["state_bytes"] for p in prog), default=0),
        } | merge_counts(views)


def _progress_view(p: dict) -> dict:
    d = p["durationMs"]
    st = p.get("stateOperators") or [{}]
    return {"trigger_s": d.get("triggerExecution", 0) / 1000,
            "plan_s": d.get("queryPlanning", 0) / 1000,
            "add_batch_s": d.get("addBatch", 0) / 1000,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000,
            "state_rows": sum(s.get("numRowsTotal", 0) for s in st),
            "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in st)}


WORKLOADS = {w.name: w for w in (TripsEtl, BiQueries, CorpusDedup, EventStream)}
