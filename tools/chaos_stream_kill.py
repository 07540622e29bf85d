"""Executor-loss chaos for STRUCTURED STREAMING state (round-10
verdict "next round" #7): SIGKILL an executor JVM — not the driver —
mid-micro-batch while the transformWithStateInPandas per-user totals
topology runs under RocksDB on a real multi-JVM local-cluster, and
require the stream to complete with totals exactly equal to the batch
aggregate.

What this proves that tools/chaos_kill.py (batch iterative ops) and
the kill -9 driver-crash test (test_tws_crash_restart_kill9) do not:
the RocksDB state store lives ON the executors; when an executor dies
mid-batch its loaded store instance and any not-yet-uploaded changelog
die with it. Recovery must come from the CHECKPOINT (snapshot +
changelog up to the last committed batch) loaded by whichever executor
the retried state partition lands on. A driver crash never exercises
that path (the JVM's stores die all at once and phase 2 is a fresh
query); a batch-op executor kill has no state store at all.

Usage:
    python tools/chaos_stream_kill.py [--out FILE]

Exit 0 iff the executor was provably killed mid-stream (commits at
kill < total batches), a replacement executor appeared, the query
completed, and the totals match the batch aggregate exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import tempfile
import threading
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# transformWithStateInPandas needs google.protobuf on driver AND
# workers — same shim activation as tests/conftest.py
try:
    import google.protobuf  # noqa: F401
except ModuleNotFoundError:
    _PB_SHIM = os.path.join(REPO_ROOT, "tools", "pb_shim")
    if os.path.isdir(
        "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk/google/protobuf"
    ):
        sys.path.insert(0, _PB_SHIM)
        os.environ["PYTHONPATH"] = (
            _PB_SHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
        )

from tools.chaos_kill import _executor_pids, _n_commits, _pid_alive, chaos_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHAOS_SF", "/root/testdata/sf0.01")


def _totals(spark, rows_dir: str) -> dict:
    from pyspark.sql import functions as F

    raw = spark.read.parquet(rows_dir)
    latest = F.max(F.struct("n_events", "total_value")).alias("st")
    rows = (
        raw.groupBy("user_id")
        .agg(latest)
        .select(
            "user_id",
            F.col("st.n_events").alias("n_events"),
            F.col("st.total_value").alias("total_value"),
        )
        .collect()
    )
    return {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    spark = chaos_session("chaos-stream")
    app_id = spark.sparkContext.applicationId

    from pwir_zadanie_4_mapreduce_spark.catalog import load_table
    from pwir_zadanie_4_mapreduce_spark.streaming import jobs

    jobs._use_rocksdb(spark)
    jobs._events_stream_split(spark, SF_DIR, jobs.STATEFUL_N_BATCHES)
    split_dir = jobs._split_dir_path(SF_DIR, jobs.STATEFUL_N_BATCHES)

    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_chaos_stream")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    src_dir = os.path.join(out_dir, "src")
    rows_dir = os.path.join(out_dir, "rows")
    ckpt_dir = os.path.join(out_dir, "ckpt")
    os.makedirs(src_dir)
    for i in range(1, jobs.STATEFUL_N_BATCHES + 1):  # ALL slices up front
        shutil.copy(os.path.join(split_dir, f"{i:02d}.parquet"), src_dir)

    q = jobs._tws_totals_start(spark, src_dir, rows_dir, ckpt_dir)

    done = threading.Event()
    stream_err: list[str] = []

    def _drain():
        try:
            q.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 — the failure IS the datum
            stream_err.append(f"{type(exc).__name__}: {exc}"[:500])
        finally:
            done.set()

    t = threading.Thread(target=_drain, daemon=True)
    t.start()

    # kill one executor the moment the FIRST micro-batch commit lands —
    # batches 2..N (maxFilesPerTrigger=1) are then still ahead, so the
    # retried work must reload RocksDB state from the checkpoint on a
    # surviving/replacement executor
    victim = None
    commits_at_kill = 0
    deadline = time.monotonic() + 180
    while time.monotonic() < deadline and not done.is_set():
        n = _n_commits(ckpt_dir)
        if n >= 1:
            pids = _executor_pids(app_id)
            if pids:
                victim = pids[0]
                commits_at_kill = n
                os.kill(victim, signal.SIGKILL)
                break
        time.sleep(0.02)
    killed_mid_stream = (
        victim is not None
        and not done.is_set()
        and commits_at_kill < jobs.STATEFUL_N_BATCHES
    )
    t.join(timeout=300)
    completed = done.is_set() and not stream_err
    try:
        q.stop()
    except Exception:  # noqa: BLE001
        pass

    replacement = False
    for _ in range(100):
        pids = _executor_pids(app_id)
        if victim is not None and any(p != victim for p in pids):
            replacement = True
            break
        time.sleep(0.2)

    got = _totals(spark, rows_dir) if completed else {}
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    }
    counts_ok = completed and set(got) == set(want) and all(
        got[k][0] == want[k][0] for k in want
    )
    sums_ok = completed and counts_ok and all(
        abs(got[k][1] - want[k][1]) < 1e-6 for k in want
    )

    rec = {
        "sf_dir": SF_DIR,
        "app_id": app_id,
        "state_store": "rocksdb",
        "n_batches": jobs.STATEFUL_N_BATCHES,
        "victim_pid": victim,
        "victim_killed": victim is not None and not _pid_alive(victim),
        "commits_at_kill": commits_at_kill,
        "killed_mid_stream": killed_mid_stream,
        "replacement_executor": replacement,
        "completed": completed,
        "stream_error": stream_err[0] if stream_err else None,
        "n_users": len(want),
        "counts_match": counts_ok,
        "sums_match": sums_ok,
    }
    print(json.dumps(rec, indent=1), flush=True)
    spark.stop()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(rec, fh, indent=1)
    ok = (
        rec["victim_killed"]
        and rec["killed_mid_stream"]
        and rec["completed"]
        and rec["counts_match"]
        and rec["sums_match"]
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
