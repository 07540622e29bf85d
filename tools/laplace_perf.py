#!/usr/bin/env python
"""Measure the Laplace solver at non-toy N for the BASELINE.md perf rows.

Usage: python tools/laplace_perf.py N [sweeps_per_job] [cpus] [--blocks NB]

``cpus`` defaults to ``session.DEFAULT_CPUS`` (``$SPARK_GRAFT_CPUS``).

Runs ``laplace_blocked.solve_blocked``; ``--blocks`` overrides its
block-count heuristic (the BASELINE.md rows at N >= 1024 used explicit
counts). Prints the reference-format stats line plus job/chunk
accounting — the chunk estimate next to the solve's job count read
from Spark's status tracker, and from its status store the median job
duration (``job_p50_s``) and the median interval between consecutive
job completions (``round_p50_s``, what perfbench's solver
``query_p50_s`` measures: a round's whole cost, the driver's work and
the closure cleaning before each job's submission included) — so the
Spark-vs-C ratio in BASELINE.md is a measured number, not an
argument.
"""
from __future__ import annotations

import os
import statistics
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    args = sys.argv[1:]
    num_blocks = None
    if "--blocks" in args:
        i = args.index("--blocks")
        num_blocks = int(args[i + 1])
        del args[i : i + 2]
    n = int(args[0])
    sweeps = int(args[1]) if len(args) > 1 else 128
    cpus = int(args[2]) if len(args) > 2 else None

    from pwir_zadanie_4_mapreduce_spark.session import DEFAULT_CPUS, build_session
    from pwir_zadanie_4_mapreduce_spark import laplace
    from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

    spark = build_session(
        app_name=f"laplace-perf-n{n}",
        cpus=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    sc.setJobGroup("laplace-perf", "laplace-perf")
    res = solve_blocked(spark, n, num_blocks=num_blocks, sweeps_per_job=sweeps)
    # the status tracker is filled by a listener on Spark's event bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = sc.statusTracker().getJobIdsForGroup("laplace-perf")
    store = sc._jsc.sc().statusStore()
    job_s, ends_ms = [], []
    for job_id in job_ids:
        job = store.job(job_id)
        end_ms = job.completionTime().get().getTime()
        job_s.append((end_ms - job.submissionTime().get().getTime()) / 1e3)
        ends_ms.append(end_ms)
    ends_ms.sort()
    round_s = [(b - a) / 1e3 for a, b in zip(ends_ms, ends_ms[1:])]
    laplace.print_stats(res, file=sys.stdout)
    print(
        f"config: N={n} sweeps_per_job={sweeps} cpus={cpus or DEFAULT_CPUS} "
        f"chunks~={(res.num_iterations + sweeps - 1) // sweeps} jobs={len(job_s)} "
        f"job_p50_s={statistics.median(job_s) if job_s else 0.0:.4f} "
        f"round_p50_s={statistics.median(round_s) if round_s else 0.0:.4f} "
        f"s_per_iter={res.duration_s / max(1, res.num_iterations):.4f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
