#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload {corpus,solver}
        --seed N --seconds S --trace {0,1} [--sf-dir DIR]

from the repository root. A run prepares the fixtures if needed (not
timed), starts the engine's session, runs one untimed warm-up pass, then
timed passes until ``--seconds`` have passed, checks every output, and
prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs traced and untraced passes and reports the per-layer metrics.
The full report, with sample counts, and the spans of a traced run are
written under ``perfbench/.work/``. The exit code is 0 only if every
operation succeeded and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.procs import TreeSampler  # noqa: E402
from perfbench.tracing import Span, Tracer, covered  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

END_TO_END = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "%",
}

PER_LAYER = {
    "session_s": "s",
    "catalog_jobs": "count",
    "catalog_s": "s",
    "build_s": "s",
    "build_self_s": "s",
    "build_jobs": "count",
    "cut_jobs": "count",
    "driver_action_jobs": "count",
    "action_s": "s",
    "action_jobs": "count",
    "aqe_stage_jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "task_gc_s": "s",
    "core_util": "ratio",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "input_mb": "MB",
    "py_start_s": "s",
    "py_init_s": "s",
    "py_run_s": "s",
    "py_sent_mb": "MB",
    "py_returned_mb": "MB",
    "solver_iterations": "count",
    "solver_chunks": "count",
    "solver_jobs": "count",
    "s_per_job": "s",
    "reduce_s": "s",
    "pinned_rdds": "count",
    "pinned_mb": "MB",
    "tracing_overhead_s": "s",
}


def success_rate(ops) -> float:
    """Share of operations that neither raised nor failed their output
    check, in percent: the complement of the error rate."""
    return 100.0 * (1 - len(ops.failures) / ops.attempted)


def quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _children(tracer: Tracer) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in tracer.spans:
        out.setdefault(s.parent_id, []).append(s)
    return out


def _calls(pass_span: Span, kids: dict[int, list[Span]]) -> list[Span]:
    """The spans whose job group Spark jobs run under: build and action
    calls of a query pass, the solve call of a solver pass."""
    out = []
    for child in kids.get(pass_span.span_id, []):
        if child.kind == "solve":
            out.append(child)
        elif child.kind == "query":
            out.extend(kids.get(child.span_id, []))
    return out


def pass_jobs(pass_span: Span, tracer: Tracer, stores, ops) -> dict[int, list[dict]]:
    """Jobs of a traced pass per call span, added to the trace. Each
    call's jobs in the status store are cross-checked against the job
    ids the status tracker lists for its group."""
    calls = _calls(pass_span, _children(tracer))
    jobs = stores.jobs({c.group for c in calls})
    per_call = {}
    for call in calls:
        mine = [j for j in jobs if j["jobGroup"] == call.group]
        if {j["jobId"] for j in mine} != stores.job_ids(call.group):
            ops.fail("status-store", f"jobs of {call.name} ({call.kind}) missing from the store")
        tracer.add_jobs(call, mine)
        per_call[call.span_id] = mine
    return per_call


def layer_metrics(pass_span: Span, tracer: Tracer, stores, ops, n_cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass, from its spans and from the
    status-store records of the jobs that ran under them."""
    per_call = pass_jobs(pass_span, tracer, stores, ops)
    calls = {s.span_id: s for s in tracer.spans if s.span_id in per_call}
    all_jobs = [j for jobs in per_call.values() for j in jobs]
    by_kind: dict[str, list[Span]] = {}
    for call in calls.values():
        by_kind.setdefault(call.kind, []).append(call)
    builds = by_kind.get("build", [])
    actions = by_kind.get("action", []) + by_kind.get("solve", [])
    solves = by_kind.get("solve", [])

    def n_class(cls: str, jobs=all_jobs) -> int:
        return sum(1 for j in jobs if j["class"] == cls)

    def spans_of(jobs) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in jobs]

    stage_ids = {sid for j in all_jobs for sid in j["stageIds"]}
    stages = stores.stages(stage_ids)
    duration = pass_span.duration
    task_run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    solve_jobs = [j for c in solves for j in per_call[c.span_id]]
    m = {
        "catalog_jobs": n_class("catalog"),
        "catalog_s": covered(spans_of(j for j in all_jobs if j["class"] == "catalog"),
                             pass_span.start, pass_span.end),
        "build_s": sum(b.duration for b in builds),
        "build_self_s": sum(
            b.duration - covered(spans_of(per_call[b.span_id]), b.start, b.end)
            for b in builds
        ),
        "build_jobs": sum(len(per_call[b.span_id]) for b in builds),
        "cut_jobs": n_class("cut"),
        "driver_action_jobs": n_class("driver_action"),
        "action_s": sum(a.duration for a in actions),
        "action_jobs": sum(len(per_call[a.span_id]) for a in actions),
        "aqe_stage_jobs": n_class("aqe_stage"),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "task_run_s": task_run_s,
        "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "task_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "core_util": task_run_s / (duration * n_cores),
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6,
        "input_mb": sum(s["inputBytes"] for s in stages) / 1e6,
        "solver_iterations": sum(s.attrs.get("iterations", 0) for s in solves),
        "solver_chunks": n_class("driver_action", solve_jobs),
        "solver_jobs": len(solve_jobs),
        "s_per_job": duration / max(1, len(all_jobs)),
        "reduce_s": sum(s.attrs.get("reduce_s", 0.0) for s in solves),
        "pinned_rdds": sum(n for n, _ in pass_span.attrs["pinned"]),
        "pinned_mb": sum(mb for _, mb in pass_span.attrs["pinned"]),
    }
    m.update(stores.python_metrics({j["jobId"] for j in all_jobs}))
    pass_span.attrs["jobs_by_class"] = {
        c: n_class(c) for c in ("catalog", "cut", "driver_action", "aqe_stage", "action")
    }
    return m


def solver_rounds(pass_span: Span, tracer: Tracer, stores) -> list[float]:
    """Latency of each bulk-synchronous round of a solve: one chunk of
    sweeps ending in the driver's max-diff reduce (a ``collect`` job).
    Read from the status store; the solve runs under its own group."""
    (solve,) = _children(tracer)[pass_span.span_id]
    ends = sorted(j["end"] for j in stores.jobs({solve.group})
                  if j["class"] == "driver_action")
    return [b - a for a, b in zip([solve.start] + ends, ends)]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["corpus", "solver"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                   help="source fixtures (read only); default %(default)s")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for needed in ("__spark_entry__.py", "bench.py", "pwir_zadanie_4_mapreduce_spark"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"{needed} not found next to perfbench/: run from a checkout "
                  "of the engine", file=sys.stderr)
            return 2
    if not os.path.isdir(args.sf_dir):
        print(f"fixture directory {args.sf_dir} not found", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)

    from perfbench import prepare

    stamp = prepare.ensure(args.sf_dir)

    t0 = time.monotonic()
    with TreeSampler() as sampler:
        report = _measure(args, stamp, t0)
    report["metrics"]["peak_rss_mb"] = (sampler.peak_bytes / 1e6, sampler.samples)
    return _finish(args, report)


def _measure(args, stamp: dict, t0: float) -> dict:
    import bench

    from perfbench import workloads
    from perfbench.spark_status import StatusStores
    from perfbench.workloads import Ops

    n_cores = workloads.cores()
    t = time.monotonic()
    spark = workloads.start_session(WORK, n_cores)
    session_s = time.monotonic() - t
    try:
        sf_dir, layout = bench._multifile_dir(spark, args.sf_dir)
        stores = StatusStores(spark)
        if args.workload == "solver":
            wl = workloads.SolverWorkload(spark)
        else:
            wl = workloads.QueryWorkload(args.workload, workloads.CORPUS, spark, sf_dir, args.seed)
        ops = Ops()
        tracer = Tracer()
        run_span = tracer.start(args.workload, "run", None, seed=args.seed)
        wl.warmup(ops)
        setup_s = time.monotonic() - t0 - wl.check_s

        schedule = workloads.TRACED_BLOCK if args.trace else (False,)
        passes: list[Span] = []
        layers: list[dict] = []
        start = time.monotonic()
        while not passes or time.monotonic() - start < args.seconds:
            for traced in schedule:
                p = wl.run_pass(tracer, run_span, traced, ops, stores)
                passes.append(p)
                if traced:
                    layers.append(layer_metrics(p, tracer, stores, ops, n_cores))
        run_span.end = time.time()

        wl.check(stamp["oracle"], ops)
        untraced = [p for p in passes if not p.attrs["traced"]]
        if args.workload == "solver":
            for p in untraced:
                p.attrs["rounds"] = solver_rounds(p, tracer, stores)
            latencies = [r for p in untraced for r in p.attrs["rounds"]]
        else:
            kids = _children(tracer)
            latencies = [q.duration for p in untraced for q in kids[p.span_id]
                         if not q.attrs.get("failed")]
    finally:
        workloads.stop_session(spark)

    pass_s = [p.duration for p in untraced]
    metrics = {
        "pass_s": (statistics.median(pass_s), len(pass_s)),
        "query_p50_s": (statistics.median(latencies), len(latencies)),
        "query_p90_s": (quantile(latencies, 90), len(latencies)),
        "setup_s": (setup_s, 1),
        "success_rate": (success_rate(ops), ops.attempted),
    }
    if layers:
        traced_s = [p.duration for p in passes if p.attrs["traced"]]
        for key in layers[0]:
            values = [m[key] for m in layers]
            agg = statistics.median_low if PER_LAYER[key] == "count" else statistics.median
            metrics[key] = (agg(values), len(values))
        metrics["session_s"] = (session_s, 1)
        metrics["tracing_overhead_s"] = (
            statistics.median(traced_s) - statistics.median(pass_s), len(passes))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": n_cores,
        "layout": layout,
        "testdata_fingerprint": stamp["fingerprint"],
        "attempted": ops.attempted,
        "failures": ops.failures,
        "passes": [
            {"traced": p.attrs["traced"], "s": p.duration,
             "jobs_by_class": p.attrs.get("jobs_by_class"),
             "rounds": p.attrs.get("rounds"),
             "queries": {q.name: q.duration for q in _children(tracer)[p.span_id]}}
            for p in passes
        ],
        "per_layer_by_pass": layers,
        "metrics": metrics,
        "spans": tracer if args.trace else None,
    }


def _finish(args, report: dict) -> int:
    units = PER_LAYER if args.trace else END_TO_END
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = report.pop("spans")
    if tracer is not None:
        tracer.write(os.path.join(WORK, f"spans-{tag}.jsonl"))
    full = {name: {"value": v, "unit": (PER_LAYER | END_TO_END)[name], "samples": n}
            for name, (v, n) in report["metrics"].items()}
    report["metrics"] = full
    with open(os.path.join(WORK, f"report-{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    correct = not report["failures"]
    for f in report["failures"]:
        print(f"FAILED {f['op']}: {f['why']}", file=sys.stderr)
    line = {
        "correct": correct,
        "attempted": report["attempted"],
        "failed": len(report["failures"]),
        "metrics": {k: {"value": full[k]["value"], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
