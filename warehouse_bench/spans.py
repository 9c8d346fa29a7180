"""Benchmark-side instrumentation: layer spans, Spark status-store
deltas, and the peak-memory sampler.

Spans are recorded only in a traced run, from the benchmark's own files
around calls into the engine's public functions (the engine carries no
instrumentation). Each span holds name, layer, start, end, parent and
op id, plus the deltas of the driver's status store over its interval;
spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# executorList fields summed per snapshot: the per-span counters
_EXEC_FIELDS = ("completedTasks", "failedTasks", "totalDuration",
                "totalGCTime", "totalInputBytes", "totalShuffleRead",
                "totalShuffleWrite")


def status_snapshot(spark) -> dict[str, float]:
    """Cumulative task counters of every executor, plus the number of
    jobs submitted so far. Drains the listener bus first: the status
    store is fed asynchronously, so without the drain the last tasks of
    a just-finished job would land in the next span."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    ex = sc.statusStore().executorList(False)
    out = dict.fromkeys(_EXEC_FIELDS, 0.0)
    for i in range(ex.size()):
        e = ex.apply(i)
        for f in _EXEC_FIELDS:
            out[f] += float(getattr(e, f)())
    nxt = sc.dagScheduler().nextJobId()       # AtomicInteger, or its value
    out["jobs"] = float(nxt if isinstance(nxt, int) else nxt.get())
    return out


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    status: dict = field(default_factory=dict)    # delta over the span
    counts: dict = field(default_factory=dict)    # layer-specific counts


class Tracer:
    """Span recorder. Disabled tracers hand out a no-op context, so the
    untraced run pays one attribute check per call site."""

    def __init__(self, spark_ref, enabled: bool):
        self._spark = spark_ref          # callable returning the session
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._local = threading.local()
        self._root: Span | None = None   # parent for callback threads

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        spark = self._spark()
        before = status_snapshot(spark)
        s = Span(id=len(self.spans), name=name, layer=layer, op=self.op,
                 parent=parent.id if parent else None,
                 start=time.perf_counter())
        self.spans.append(s)
        stack.append(s)
        if threading.current_thread() is threading.main_thread() and len(stack) == 1:
            self._root = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            after = status_snapshot(spark)
            s.status = {k: after[k] - before[k] for k in after}
            stack.pop()
            if self._root is s:
                self._root = None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    def self_view(self) -> list[dict]:
        """Per span: wall and status deltas minus those of its direct
        children (self time / self counters)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            ch = kids.get(s.id, [])
            wall = (s.end - s.start) - sum(c.end - c.start for c in ch)
            st = {k: v - sum(c.status.get(k, 0.0) for c in ch)
                  for k, v in s.status.items()}
            out.append({"name": s.name, "layer": s.layer, "op": s.op,
                        "wall": wall, "total": s.end - s.start,
                        "status": st, "counts": s.counts})
        return out


class PssSampler(threading.Thread):
    """Peak memory of a process tree (the driver JVM and every Python
    worker it forked), sampled from /proc as the sum of each process's
    PSS. PySpark workers fork from one daemon and share its pages copy-
    on-write; PSS charges each shared page once in total, so the figure
    does not depend on how many workers happen to be alive. The only
    helper thread the benchmark runs."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        super().__init__(daemon=True)
        self.root_pid, self.interval = root_pid, interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _tree(self, pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
        return out

    def sample(self) -> int:
        kb = sum(self._pss_kb(p) for p in self._tree(self.root_pid))
        with self._lock:
            self.peak_kb = max(self.peak_kb, kb)
        return kb

    def reset(self) -> None:
        with self._lock:
            self.peak_kb = 0

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
