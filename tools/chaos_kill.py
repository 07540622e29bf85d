"""Executor-loss chaos harness (round-9 verdict #5).

Runs iterative queries on a REAL multi-JVM local-cluster, SIGKILLs one
executor JVM mid-query, and checks the job still completes with output
hash-identical to an undisturbed baseline run.

Why this matters at 100 TB: the iterative family cuts lineage:
connected components every round, Lloyd k-means, PageRank and BFS
once on the frames their rounds re-read (functions/lineage.py). The
default cut is ``localCheckpoint`` — executor-local blocks that DIE
with their executor and, with lineage truncated, cannot be
recomputed; on a 1000-executor cluster where executor loss is
routine, that plan shape fails the job.
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` switches every cut to reliable
``checkpoint()`` files (functions/lineage.py), which stage retry
re-reads after any loss. This harness produces the evidence for
both modes.

Usage:
    python tools/chaos_kill.py [--mode reliable|local] [--out FILE] [query ...]

Exit 0 iff every chaos run hash-matched its baseline AND provably
killed an executor mid-query.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_CHAOS_SF", "/root/testdata/sf0.01")
DEFAULT_QUERIES = [
    "dedup_cluster_components",
    "sim_topk_ivf_kmeans",
    "graph_pagerank_fixed",
]


def _canonical_hash(df) -> str:
    rows = sorted(
        "|".join("NULL" if v is None else f"{v:.4f}" if isinstance(v, float) else str(v) for v in r)
        for r in df.collect()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _executor_pids(app_id: str) -> list[int]:
    """PIDs of this app's CoarseGrainedExecutorBackend JVMs."""
    out = subprocess.run(
        ["ps", "-eo", "pid,args"], capture_output=True, text=True
    ).stdout
    pids = []
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line and app_id in line:
            pids.append(int(line.strip().split(None, 1)[0]))
    return sorted(pids)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def _n_commits(ckpt_dir: str) -> int:
    """Micro-batches a streaming query has committed to ``ckpt_dir``."""
    d = os.path.join(ckpt_dir, "commits")
    if not os.path.isdir(d):
        return 0
    return sum(1 for f in os.listdir(d) if not f.startswith("."))


def chaos_session(app_name: str):
    """The session every chaos tool runs in: the engine's own
    (``build_session``: worker daemon, executor PYTHONPATH) on a
    2-worker local-cluster, so there are real executor JVMs to kill.
    Executor loss is the experiment, so task and stage retries are
    raised: the dying executor's failed tasks must not abort the app."""
    from pwir_zadanie_4_mapreduce_spark.session import build_session

    return build_session(
        app_name=app_name,
        cpus=8,
        extra_conf={
            "spark.master": "local-cluster[2,4,1536]",
            "spark.task.maxFailures": "8",
            "spark.stage.maxConsecutiveAttempts": "8",
        },
    )


def chaos_run(spark, qfn, sf_dir: str, app_id: str, baseline_s: float, kills: int = 1) -> dict:
    """Run ``qfn`` while killing one executor MID-ITERATION: the kill
    fires once ≥3 Spark jobs of this run have been submitted (the
    iterative ops run one-plus jobs per round, so by then lineage-cut
    blocks exist on the executors — killing at first-job start would
    only test loss of an executor with nothing on it), or at 50 % of
    the baseline wall time, whichever comes first."""
    sc = spark.sparkContext
    result: dict = {}
    err: list[str] = []
    done = threading.Event()

    def _work():
        try:
            result["hash"] = _canonical_hash(qfn(spark, sf_dir))
            result["rows"] = True
        except Exception as exc:  # noqa: BLE001 — the failure IS the datum
            err.append(f"{type(exc).__name__}: {exc}"[:500])
        finally:
            done.set()

    jobs_before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    t = threading.Thread(target=_work, daemon=True)
    t.start()
    t_start = time.monotonic()
    victims: list[int] = []
    killed_mid_run = False
    jobs_at_kill = 0
    deadline = t_start + 120
    initial_pids = _executor_pids(app_id)
    while time.monotonic() < deadline and not done.is_set():
        jobs_now = len(sc.statusTracker().getJobIdsForGroup(None) or [])
        elapsed = time.monotonic() - t_start
        if jobs_now >= jobs_before + 3 or (
            jobs_now > jobs_before and elapsed >= 0.5 * baseline_s
        ):
            pids = _executor_pids(app_id)
            if pids:
                victims.append(pids[0])
                os.kill(pids[0], signal.SIGKILL)
                killed_mid_run = not done.is_set()
                jobs_at_kill = jobs_now - jobs_before
                break
        time.sleep(0.02)
    if kills > 1 and victims:
        # kill every REMAINING original executor too (one 2 s later):
        # after this, no block stored before the first kill survives
        # anywhere — the strongest storage-loss case 2 workers can show
        for pid in initial_pids:
            if pid in victims or done.is_set():
                continue
            time.sleep(2.0)
            if _pid_alive(pid) and not done.is_set():
                victims.append(pid)
                os.kill(pid, signal.SIGKILL)
    t.join(timeout=300)
    victim = victims[0] if victims else None
    # wait for the standalone worker to relaunch a replacement executor
    replacement = False
    for _ in range(100):
        pids = _executor_pids(app_id)
        if victim is not None and any(p != victim for p in pids):
            replacement = True
            break
        time.sleep(0.2)
    return {
        "victim_pid": victim,
        "victims": victims,
        "jobs_at_kill": jobs_at_kill,
        "victim_killed": victim is not None and not _pid_alive(victim),
        "killed_mid_run": killed_mid_run,
        "replacement_executor": replacement,
        "completed": "hash" in result,
        "hash": result.get("hash"),
        "error": err[0] if err else None,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["reliable", "local"], default="reliable")
    ap.add_argument("--kills", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args(argv)
    names = args.queries or DEFAULT_QUERIES

    if args.mode == "reliable":
        os.environ["SPARK_GRAFT_RELIABLE_CHECKPOINT"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_RELIABLE_CHECKPOINT", None)

    spark = chaos_session(f"chaos-{args.mode}")
    app_id = spark.sparkContext.applicationId
    import __spark_entry__ as e

    qs = e.queries()
    report: dict = {"mode": args.mode, "sf_dir": SF_DIR, "app_id": app_id, "results": {}}
    ok = True
    for name in names:
        qfn = qs[name]
        t0 = time.monotonic()
        baseline = _canonical_hash(qfn(spark, SF_DIR))
        baseline_s = time.monotonic() - t0
        rec = chaos_run(spark, qfn, SF_DIR, app_id, baseline_s, kills=args.kills)
        rec["baseline_hash"] = baseline
        rec["baseline_s"] = round(baseline_s, 2)
        rec["hash_match"] = rec.get("hash") == baseline
        report["results"][name] = rec
        passed = rec["hash_match"] and rec["victim_killed"] and rec["killed_mid_run"]
        print(
            f"{'ok  ' if passed else 'FAIL'} {name} "
            f"killed={rec['victim_killed']} mid_run={rec['killed_mid_run']} "
            f"replacement={rec['replacement_executor']} match={rec['hash_match']} "
            f"err={rec['error']}",
            flush=True,
        )
        if args.mode == "reliable":
            ok = ok and passed
    spark.stop()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
