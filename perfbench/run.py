#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {write,query} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root.  Inputs are generated from ``--seed``, apart
from the query suite's tables, a copy of the test data in ``data/``; the
engine runs on ``local[<cores>]`` with one client; every op's output is
checked.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (see
metrics.py).  A traced run also prints a ``perfbench-trace`` line with the
per-op-kind breakdown and writes spans and jobs to
``.perfbench/trace-<workload>-<seed>.json``.  Exit code 1 when a check
failed, 2 on a usage error or when not run from a checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from metrics import (  # noqa: E402
    END_TO_END, ENGINE_STATS, PER_LAYER, REQUEST_KINDS, SUITE_LEAVES,
)

WORKLOADS = {"write": "wl_write", "query": "wl_query"}


def _host_metrics(roles0, stat0) -> dict:
    """CPU seconds by role since ``roles0`` and the host's steal share since
    ``stat0`` (``hostmetrics`` snapshots)."""
    from osmquadtree_bin_spark.hostmetrics import (
        pg_cpu_by_role, proc_stat, role_delta_seconds,
    )

    d = role_delta_seconds(roles0, pg_cpu_by_role()) or {}
    stat1 = proc_stat()
    steal = 0.0
    if stat0 and stat1 and stat1[2] > stat0[2]:
        steal = (stat1[1] - stat0[1]) / (stat1[2] - stat0[2])
    return {
        "cpu.jvm_s": sum(v for k, v in d.items() if "jvm" in k),
        "cpu.python_worker_s": d.get("py-udf", 0.0),
        "cpu.driver_python_s": d.get("py-driver", 0.0),
        "host.steal_share": steal,
    }


def end_to_end(out, peak_rss) -> dict:
    """A batch pass is one op of every batch kind: its wall is the sum of
    the kinds' median walls (one prepare pass; the 12 suite leaves)."""
    recs = out["records"]
    batch = [r for r in recs if r.family == "batch"]
    req = [r for r in recs if r.family == "request"]
    kinds = sorted({r.kind for r in batch})
    batch_s = sum(harness.median([r.wall for r in batch if r.kind == k]) for k in kinds)
    batch_rows = sum(harness.median([r.rows for r in batch if r.kind == k]) for k in kinds)
    return {
        "setup_s": harness.median(out["setup_walls"]),
        "batch_s": batch_s,
        "batch_rows_per_s": batch_rows / batch_s,
        "request_p50_ms": 1e3 * harness.median([r.wall for r in req]),
        "requests_per_s": len(req) / sum(r.wall for r in req),
        "peak_rss_mb": peak_rss,
    }


def _engine(spans, jobs) -> dict:
    """Per-call engine counters over a set of spans: a job counts for a
    span when it belongs to the span's op and was submitted inside it."""
    from tracing import engine_summary

    keyed = [
        {**j, "key": i}
        for i, s in enumerate(spans)
        for j in jobs
        if j["op_id"] == s.op_id and s.start <= j["t0"] <= s.end
    ]
    eng = engine_summary(keyed, {i: (s.start, s.end) for i, s in enumerate(spans)})
    eng["wall_s"] = harness.median([s.end - s.start for s in spans])
    return eng


def _op_spans(tracer) -> dict[str, list]:
    """The spans behind each ``engine.<op>`` metric group."""
    ops = {s.op_id: s for s in tracer.spans if s.parent is None}

    def parent_kind(s):
        return ops[s.parent].name if s.parent in ops else None

    pick = {
        "prepare": lambda s: s.name == "prepare_pipeline",
        "pip": lambda s: s.name == "pip",
        "diff_local": lambda s: s.name == "apply_diff" and parent_kind(s) == "diff_local",
        "diff_wide": lambda s: s.name == "apply_diff" and parent_kind(s) == "diff_wide",
        "update_read": lambda s: s.name == "update_read",
        "suite": lambda s: s.parent is None and s.name in SUITE_LEAVES,
        **{
            k: (lambda s, k=k: s.parent is None and s.name == k)
            for k in ("bbox", "tile", "query", "extract")
        },
    }
    return {op: [s for s in tracer.spans if f(s)] for op, f in pick.items()}


def per_layer(wl, ctx, out, host, session_s) -> tuple[dict, dict]:
    recs = out["records"]
    tracer = ctx.tracer
    t0 = time.perf_counter()
    jobs = tracer.jobs()
    read_s = time.perf_counter() - t0
    req = [r for r in recs if r.family == "request"]
    req_p50 = harness.median([r.wall for r in req])
    m = {
        "trace.overhead_ms": 1e3 * harness.median(tracer.overhead),
        "trace.read_store_s": read_s,
        "trace.spans": len(tracer.spans),
        "session.start_s": session_s,
        "request.p90_ms": 1e3 * harness.quantile([r.wall for r in req], 0.9),
        **host,
    }
    ops = {s.op_id: s for s in tracer.spans if s.parent is None}
    for fam in ("batch", "request"):
        ids = {r.op_id for r in recs if r.family == fam}
        eng = _engine([ops[k] for k in ids], jobs)
        eng["gc_share"] = eng.pop("gc_s") / eng["run_s"] if eng["run_s"] else 0.0
        m.update({f"engine.{fam}.{k}": eng[k] for k in ENGINE_STATS})
    for op, spans in _op_spans(tracer).items():
        if spans:
            eng = _engine(spans, jobs)
            m.update({f"engine.{op}.{k}": eng[k] for k in (
                "jobs", "tasks", "shuffle_write_bytes", "input_bytes")})
            m[f"engine.{op}.driver_share"] = eng["driver_s"] / eng["wall_s"]
            m[f"engine.{op}.run_per_wall"] = eng["run_s"] / eng["wall_s"]
    for kind in REQUEST_KINDS:
        walls = [r.wall for r in req if r.kind == kind]
        if walls:
            m[f"request.{kind}_p50_rel"] = harness.median(walls) / req_p50
    layer, detail = wl.layer_metrics(ctx, out["state"], recs)
    m.update(layer)
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    metrics = {k: m.get(k, 0) for k in PER_LAYER}

    # every span name in seconds: the detail behind the ratios
    by_span = {
        name: {
            "n": len(spans),
            "p50_ms": 1e3 * harness.median([s.end - s.start for s in spans]),
            "p90_ms": 1e3 * harness.quantile([s.end - s.start for s in spans], 0.9),
            "engine": _engine(spans, jobs),
        }
        for name in sorted({s.name for s in tracer.spans})
        for spans in [[s for s in tracer.spans if s.name == name]]
    }
    trace = {
        "detail": {"by_span": by_span, **detail},
        "jobs": jobs,
        "spans": [s.__dict__ for s in tracer.spans],
    }
    return metrics, trace


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    harness.check_repo(root)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    ctx = harness.Context(
        root=root, run_dir=run_dir, seed=args.seed, size=args.size,
        trace=bool(args.trace), cores=cores,
    )
    harness.prepare_env(ctx)
    wl = importlib.import_module(WORKLOADS[args.workload])
    from osmquadtree_bin_spark.hostmetrics import pg_cpu_by_role, proc_stat

    roles0, stat0 = pg_cpu_by_role(), proc_stat()
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            ctx.spark = harness.start_spark(ctx)
            session_s = time.perf_counter() - t0
            harness.log(f"session {session_s:.2f}")
            try:
                out = harness.run_workload(ctx, wl, args.seconds)
                if ctx.trace:
                    metrics, trace = per_layer(
                        wl, ctx, out, _host_metrics(roles0, stat0), session_s
                    )
            finally:
                if hasattr(wl, "close") and ctx.state is not None:
                    wl.close(ctx.state)
                harness.stop_spark(ctx.spark)
        if ctx.trace:  # the same figures traced: minus untraced = overhead
            trace["detail"]["end_to_end"] = end_to_end(out, rss.peak)
        else:
            metrics = end_to_end(out, rss.peak)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = PER_LAYER if ctx.trace else END_TO_END
    result = harness.make_result(
        ctx,
        metrics={k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    )
    if ctx.trace:
        path = os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace, f, default=str)
        print("perfbench-trace " + json.dumps(trace["detail"], default=str))
    for f in ctx.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    harness.emit(result)
    return 1 if ctx.failures else 0


if __name__ == "__main__":
    sys.exit(main())
