"""Run loop shared by the workloads: environment, Spark session, repeated
set-up, the timed calls, output checks, memory sampling and the result
line.

A workload module provides ``setup(ctx, i)`` (build the workload's state
from the seed into a fresh directory; called ``SETUP_REPEATS`` times, the
last state is used), ``layer_metrics`` and three op sources, run in this
order:

* ``batch(ctx, state)`` — batch ops (a prepare pass; the suite's leaves),
  each timed once at its first call in the session, as a submitted job
  meets it (``bench.py`` times the suite's leaves the same way);
* ``warm(ctx, state)`` — optional: untimed ops that build what the
  requests need, and first requests of each kind;
* ``requests(ctx, state)`` — an endless iterator of request groups, each a
  fixed mix; whole groups are timed until they have taken ``--seconds``.

An optional ``close(state)`` releases what the workload started.  Only
``Op.run`` is timed; the check in ``Op.verify`` runs after the clock
stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

SETUP_REPEATS = 2  # the first in a cold session; setup_s is their median
REPO_MARKERS = ("osmquadtree_bin_spark", "jobs/prepare_job.py", "__spark_entry__.py")


class CheckFailed(Exception):
    """An output check found a wrong result."""


@dataclass
class Op:
    """One timed call.  ``run`` is timed; ``verify(result)`` is not, and
    returns the number of rows the call produced (raising CheckFailed on a
    wrong result).  ``family`` is "batch" (a job or query-suite leaf) or
    "request" (one interactive call)."""

    kind: str
    family: str
    run: Callable[[], Any]
    verify: Callable[[Any], int]


@dataclass
class OpRecord:
    kind: str
    family: str
    wall: float  # seconds
    rows: int
    op_id: str


@dataclass
class Context:
    root: str  # checkout root (cwd)
    run_dir: str  # per-run scratch directory inside the checkout
    seed: int
    size: str  # "full" or "tiny" (self-test)
    trace: bool
    cores: int
    spark: Any = None
    tracer: Any = None
    state: Any = None  # the workload's state, once set up
    failures: list = field(default_factory=list)
    attempted: int = 0  # ops run and checked, untimed ones included


def check_repo(root: str) -> None:
    missing = [m for m in REPO_MARKERS if not os.path.exists(os.path.join(root, m))]
    if missing:
        print(
            f"perfbench: {root} is not a checkout of the engine "
            f"(missing {', '.join(missing)}); run from the repository root",
            file=sys.stderr,
        )
        sys.exit(2)


def prepare_env(ctx: Context) -> None:
    """Everything the run writes lands under ``ctx.run_dir``: Spark's local
    dirs, the JVM's and Python's temp files (so
    ``__spark_entry__._staged_docs``'s cache is a miss on every run) and the
    workload's inputs and stores."""
    for sub in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(ctx.run_dir, sub), exist_ok=True)
    env = os.environ
    env["TMPDIR"] = os.path.join(ctx.run_dir, "tmp")
    # the JVM's temp files too: _JAVA_OPTIONS is read after the command
    # line, so it wins over the session's own java.io.tmpdir; no hsperfdata
    env["_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(ctx.run_dir, 'jvm-tmp')} -XX:-UsePerfData"
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(ctx.run_dir, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    # Python UDF workers import the engine package from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.root, env.get("PYTHONPATH", "")) if p
    )
    if ctx.root not in sys.path:
        sys.path.insert(0, ctx.root)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(ctx: Context):
    from osmquadtree_bin_spark.session import get_spark

    spark = get_spark(
        app=f"perfbench-{ctx.seed}",
        master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores,
        # the traced run reads every job and stage back from the status
        # store; both modes keep the same retention so they run alike
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


# ----------------------------------------------------------------- memory
def _tree_pids() -> list[int]:
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                ppid = int(f.read().rsplit(") ", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(st.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [me]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and every descendant (driver JVM,
    Python UDF workers), in MB."""
    total = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Samples ``tree_rss_mb`` on a thread; ``peak`` is the largest sum."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb())


# ------------------------------------------------------------------ stats
def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(dp, f))
    return total


# ------------------------------------------------------------------- loop
def run_workload(ctx: Context, wl, seconds: float) -> dict:
    """Set up ``SETUP_REPEATS`` times; time each ``wl.batch`` op once; run
    ``wl.warm`` untimed, if the workload has it; then time whole groups of
    ``wl.requests`` until they have taken ``seconds``.  Returns the raw
    measurements."""
    from tracing import Tracer

    ctx.tracer = Tracer(ctx.spark, enabled=ctx.trace)
    setup_walls = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        ctx.state = state = wl.setup(ctx, i)
        setup_walls.append(time.perf_counter() - t0)
    log(f"setup {[round(w, 2) for w in setup_walls]}")

    records: list[OpRecord] = []
    for op in wl.batch(ctx, state):
        _timed(ctx, op, records)
    if hasattr(wl, "warm"):
        _untimed(ctx, wl.warm(ctx, state))
    measured = 0.0
    groups = wl.requests(ctx, state)
    while measured < seconds:
        for op in next(groups):
            measured += _timed(ctx, op, records)
    return {"setup_walls": setup_walls, "records": records, "state": state}


def _untimed(ctx: Context, ops) -> None:
    """Calls whose cost is not measured: building what the timed calls
    need, and first calls (JIT, first codegen)."""
    t0 = time.perf_counter()
    for op in ops:
        ctx.attempted += 1
        try:
            op.verify(op.run())
        except CheckFailed as e:
            ctx.failures.append(f"{op.kind} (untimed): {e}")
    log(f"untimed {time.perf_counter() - t0:.2f}s")


def _timed(ctx: Context, op: Op, records: list) -> float:
    n = len(records)
    op_id = f"op{n}"
    ctx.attempted += 1
    t0 = time.perf_counter()
    with ctx.tracer.op(op_id, op.kind):
        result = op.run()
    wall = time.perf_counter() - t0
    rows = 0
    try:
        rows = op.verify(result)
    except CheckFailed as e:
        ctx.failures.append(f"{op.kind} {op_id}: {e}")
    records.append(OpRecord(op.kind, op.family, wall, rows, op_id))
    log(f"{op.kind} {wall:.3f}s rows={rows}")
    return wall


def log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def emit(result: dict) -> None:
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


def make_result(ctx: Context, metrics: dict) -> dict:
    return {
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": metrics,
    }
