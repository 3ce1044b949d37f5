"""Spans and Spark counters for the traced run.

A span is (name, start, end, parent, op id), recorded in memory by the
benchmark's own code around each call into the engine's public functions.
Each op of a traced run also sets a Spark job group named after its op
id.  After the
run, ``jobs`` reads every job and stage back from Spark's status store over
py4j (``spark.ui.enabled=false`` keeps the store) and gives each job to an
op: by job group, or — for jobs the HTTP server's handler threads submit,
which do not inherit the client's group — by the op's time window (one
client and a single-flight server keep the windows disjoint).  Within the
op, a job belongs to the innermost child span it was submitted in.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

ENGINE_KEYS = (
    "jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
    "input_bytes", "driver_s",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None  # op id of the enclosing op span, None for an op
    op_id: str


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.current: str | None = None  # op id of the traced op in flight
        self.overhead: list[float] = []
        self._lock = threading.Lock()

    @contextmanager
    def op(self, op_id: str, kind: str):
        """Trace one op; the time spent in this bookkeeping is kept in
        ``overhead`` (seconds per op)."""
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self.current = op_id
        t0 = time.time()
        c1 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.time()
            c2 = time.perf_counter()
            self.current = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._add(Span(kind, t0, t1, None, op_id))
            self.overhead.append((c1 - c0) + (time.perf_counter() - c2))

    @contextmanager
    def span(self, name: str):
        """A child span of the traced op in flight; no-op otherwise.  Safe
        from the server's handler threads."""
        op_id = self.current
        if op_id is None:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self._add(Span(name, t0, time.time(), op_id, op_id))

    def _add(self, s: Span) -> None:
        with self._lock:
            self.spans.append(s)

    def child_time(self, op_id: str, name: str) -> float:
        return sum(
            s.end - s.start for s in self.spans
            if s.parent == op_id and s.name == name
        )

    # ------------------------------------------------------- status store
    def jobs(self) -> list[dict]:
        """One dict per Spark job of a traced op: op id, the span it ran
        in, its interval and the summed metrics of its stages."""
        if not self.enabled:
            return []
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        by_stage: dict[int, list[tuple]] = {}
        seq = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(seq.size()):
            s = seq.apply(i)
            by_stage.setdefault(s.stageId(), []).append((
                s.numTasks(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.jvmGcTime() / 1e3,
                s.shuffleWriteBytes(),
                s.inputBytes(),
            ))

        ops = {s.op_id: s for s in self.spans if s.parent is None}
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        raw = []
        jl = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jl.size()):
            j = jl.apply(i)
            if not j.submissionTime().isDefined():
                continue
            t0 = j.submissionTime().get().getTime() / 1e3
            t1 = (
                j.completionTime().get().getTime() / 1e3
                if j.completionTime().isDefined() else t0
            )
            grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
            ids = j.stageIds()
            raw.append((j.jobId(), t0, t1, grp, [ids.apply(k) for k in range(ids.size())]))

        out, counted = [], set()  # a reused stage counts for its first job
        for _jid, t0, t1, grp, stage_ids in sorted(raw):
            op = ops.get(grp) or next(
                (o for o in ops.values() if o.start <= t0 <= o.end), None
            )
            if op is None:
                continue
            inner = [c for c in children.get(op.op_id, []) if c.start <= t0 <= c.end]
            span = min(inner, key=lambda c: c.end - c.start) if inner else op
            rec = {
                "op_id": op.op_id, "kind": op.name, "span": span.name,
                "t0": t0, "t1": t1, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_write_bytes": 0, "input_bytes": 0,
            }
            for sid in stage_ids:
                if sid in counted:
                    continue
                counted.add(sid)
                for v in by_stage.get(sid, []):
                    rec["tasks"] += v[0]
                    rec["run_s"] += v[1]
                    rec["cpu_s"] += v[2]
                    rec["gc_s"] += v[3]
                    rec["shuffle_write_bytes"] += v[4]
                    rec["input_bytes"] += v[5]
            out.append(rec)
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def engine_summary(jobs: list[dict], windows: dict[str, tuple[float, float]]) -> dict:
    """Per-call engine counters for one group of calls.  ``windows`` maps a
    call key to its (start, end); ``jobs`` are the jobs of those calls,
    each carrying that key as ``key``.  ``driver_s`` is a call's wall minus
    the time its jobs cover."""
    n = len(windows)
    if not n:
        return {k: 0.0 for k in ENGINE_KEYS}
    tot = {k: 0.0 for k in ENGINE_KEYS}
    ivs: dict[str, list] = {k: [] for k in windows}
    for j in jobs:
        tot["jobs"] += 1
        for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes"):
            tot[k] += j[k]
        ivs[j["key"]].append((j["t0"], j["t1"]))
    tot["driver_s"] = sum(
        (hi - lo) - covered(ivs[k], lo, hi) for k, (lo, hi) in windows.items()
    )
    return {k: v / n for k, v in tot.items()}
