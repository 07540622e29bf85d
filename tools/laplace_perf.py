#!/usr/bin/env python
"""Measure the Laplace solver at non-toy N for the BASELINE.md perf rows.

Usage: python tools/laplace_perf.py N [sweeps_per_job] [cpus] [--blocks NB]

Runs ``laplace_blocked.solve_blocked``; ``--blocks`` overrides its
block-count heuristic (the BASELINE.md rows at N >= 1024 used explicit
counts). Prints the reference-format stats line plus job/chunk
accounting — the chunk estimate next to the solve's job count read
from Spark's status tracker — so the Spark-vs-C ratio in BASELINE.md
is a measured number, not an argument.
"""
from __future__ import annotations

import os
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
    cpus = int(args[2]) if len(args) > 2 else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pwir_zadanie_4_mapreduce_spark.session import build_session
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
    jobs = len(sc.statusTracker().getJobIdsForGroup("laplace-perf"))
    laplace.print_stats(res, file=sys.stdout)
    print(
        f"config: N={n} sweeps_per_job={sweeps} cpus={cpus} "
        f"chunks~={(res.num_iterations + sweeps - 1) // sweeps} jobs={jobs} "
        f"s_per_iter={res.duration_s / max(1, res.num_iterations):.4f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
