#!/usr/bin/env python
"""Time registered queries with the noop sink, interleaved, in one
SparkSession: the repo's query probe for A/B deltas, sf-scaling slopes
and physical-plan dumps.

Usage:
    python tools/probe.py QUERY... [--rounds N] [--ref GIT_REF]
                          [--sf DIR]... [--plans DIR]

Each ``--sf`` dir (default ``catalog.DEFAULT_SF_DIR``, which
``$SPARK_GRAFT_SF_DIR`` overrides) is re-laid out as bench.py measures it
(``bench._multifile_dir``). After one ``q1_pricing_summary`` warm-up,
every round runs each (sf, query, arm) once, in that order, so host
drift hits every cell alike — the only way to resolve deltas under
20% on a host whose throughput swings between windows (BASELINE.md).
The arms swap places every other round: a query's second run in a
row measured up to 2x faster than its first with identical code.
Every run first releases the session's storage
(``session.release_storage``) and is timed through a noop write. The
probe prints each cell's runs, their min and their median; with two
or more ``--sf`` dirs, also each (query, arm)'s log10 time ratio over
the last step (1.0 = linear in rows for a 10x step, below 1
sublinear).

Arms: ``new`` is the working tree. ``--ref`` adds ``old``, the
queries of ``git archive GIT_REF`` imported from a temp tree. The old
arm is faithful only because worker code is pickled by value (the
worker-closure convention): a Python worker imports no package code,
so it runs the old closures, while module-level names an old query
imports lazily at call time resolve to the working tree.

``--plans DIR`` writes ``explain("formatted")`` of each (query, arm)
at the first sf to ``DIR/<query>_<arm>.txt``; ``--rounds 0`` only
writes plans. Session size follows ``SPARK_GRAFT_CPUS`` like bench.py.
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def _is_repo_module(name: str) -> bool:
    return name.startswith("pwir_zadanie_4_mapreduce_spark") or name == "__spark_entry__"


def load_old_queries(ref: str, tree: str) -> dict:
    """``queries()`` of the repo at ``ref``, extracted into ``tree``:
    purge the working tree's package modules, import the old ones from
    ``tree``, then restore the working tree's modules."""
    subprocess.run(
        f"git -C {REPO_ROOT} archive {ref} | tar -x -C {tree}", shell=True, check=True
    )
    saved = dict(sys.modules)
    for m in [m for m in sys.modules if _is_repo_module(m)]:
        del sys.modules[m]
    sys.path.insert(0, tree)
    try:
        import __spark_entry__ as entry_old

        return entry_old.queries()
    finally:
        sys.path.remove(tree)
        for m in [m for m in sys.modules if _is_repo_module(m)]:
            del sys.modules[m]
        sys.modules.update(saved)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--ref", help="add an 'old' arm: the queries at this git ref")
    ap.add_argument("--sf", action="append", help="fixture dir; repeat for a slope")
    ap.add_argument("--plans", help="write <query>_<arm>.txt formatted plans here")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod

    with tempfile.TemporaryDirectory(prefix="probe_ref_") as tree:
        arms = {"new": entrymod.queries()}
        if args.ref:
            arms["old"] = load_old_queries(args.ref, tree)
        for arm, qs in arms.items():
            unknown = [q for q in args.queries if q not in qs]
            if unknown:
                print(f"error: {arm} arm has no queries {unknown}", file=sys.stderr)
                return 1

        from bench import _multifile_dir
        from pwir_zadanie_4_mapreduce_spark.catalog import DEFAULT_SF_DIR
        from pwir_zadanie_4_mapreduce_spark.session import build_session, release_storage

        spark = build_session(
            app_name="probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        try:
            sf_dirs = [_multifile_dir(spark, d)[0] for d in args.sf or [DEFAULT_SF_DIR]]

            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                for name in args.queries:
                    for arm, qs in arms.items():
                        release_storage(spark)
                        df = qs[name](spark, sf_dirs[0])
                        plan = df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                        path = os.path.join(args.plans, f"{name}_{arm}.txt")
                        with open(path, "w") as fh:
                            fh.write(plan)
                        print(f"wrote {path}", flush=True)

            def run(qs: dict, name: str, sf_dir: str) -> float:
                release_storage(spark)
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                return time.monotonic() - t0

            if args.rounds > 0:
                run(arms["new"], "q1_pricing_summary", sf_dirs[0])  # warm-up
            runs: dict[tuple[str, str, str], list[float]] = {}
            for r in range(args.rounds):
                for sf_dir in sf_dirs:
                    for name in args.queries:
                        order = list(arms.items())
                        for arm, qs in order if r % 2 == 0 else order[::-1]:
                            t = run(qs, name, sf_dir)
                            runs.setdefault((name, sf_dir, arm), []).append(t)
        finally:
            spark.stop()

    for (name, sf_dir, arm), ts in runs.items():
        print(
            f"{name} {os.path.basename(sf_dir)} {arm}: "
            f"runs={[round(t, 3) for t in ts]} min={min(ts):.3f} "
            f"median={statistics.median(ts):.3f}"
        )
    if len(sf_dirs) >= 2 and runs:
        prev, last = sf_dirs[-2:]
        for name in args.queries:
            for arm in arms:
                # guard tiny times: a 1 ms floor keeps the log finite
                t_prev = max(min(runs[name, prev, arm]), 1e-3)
                t_last = max(min(runs[name, last, arm]), 1e-3)
                print(
                    f"{name} {arm}: slope {os.path.basename(prev)}->"
                    f"{os.path.basename(last)} = {math.log10(t_last / t_prev):.2f}"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
