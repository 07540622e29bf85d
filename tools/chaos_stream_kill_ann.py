"""Executor-loss chaos for BUILT-IN streaming aggregation state —
the third cell of the state-recovery matrix (chaos_kill.py = batch
iterative lineage, chaos_stream_kill.py = transformWithState typed
state, this = the plain streaming groupBy aggregation every windowed
rollup uses): SIGKILL an executor JVM mid-micro-batch while the
run_stream_ann_assign topology (frozen-codebook assignment + complete-
mode per-centroid counts/sums) runs under RocksDB on a real multi-JVM
local-cluster, and require the finished totals to equal the batch
aggregation exactly.

Why this is not redundant with the tws kill: built-in aggregation
state lives in StateStoreSave/Restore operators with their own store
format and its own recovery path; the memory sink lives in the DRIVER,
so the only thing the kill can break is executor-side state — which
must come back from the checkpoint (snapshot + changelog up to the
last committed batch) on a surviving/replacement executor.

Usage:
    python tools/chaos_stream_kill_ann.py [--out FILE]

Exit 0 iff the executor was provably killed mid-stream (commits at
kill < total batches), the query completed, and counts AND integer-
grid cosine sums match the batch aggregation bit-exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from tools.chaos_kill import _executor_pids, _n_commits, _pid_alive, chaos_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHAOS_SF", "/root/testdata/sf0.01")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    spark = chaos_session("chaos-stream-ann")
    app_id = spark.sparkContext.applicationId

    from pwir_zadanie_4_mapreduce_spark.catalog import load_table
    from pwir_zadanie_4_mapreduce_spark.streaming import jobs

    jobs._use_rocksdb(spark)
    # materialize the embeddings slices, then copy ALL of them into a
    # fresh source dir up front (maxFilesPerTrigger=1 still gives one
    # micro-batch per slice; all-visible-at-start means the kill can
    # land between commits)
    jobs._embeddings_stream_split(spark, SF_DIR, jobs.STATEFUL_N_BATCHES)
    split_dir = jobs._emb_split_dir_path(SF_DIR, jobs.STATEFUL_N_BATCHES)

    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_chaos_stream_ann")
    shutil.rmtree(out_dir, ignore_errors=True)
    src_dir = os.path.join(out_dir, "src")
    ckpt_dir = os.path.join(out_dir, "ckpt")
    os.makedirs(src_dir)
    for i in range(1, jobs.STATEFUL_N_BATCHES + 1):
        shutil.copy(os.path.join(split_dir, f"{i:02d}.parquet"), src_dir)

    qname = "chaos_ann_totals"
    q = jobs._ann_assign_start(spark, src_dir, ckpt_dir, SF_DIR, qname)

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

    # kill one executor the moment the FIRST micro-batch commit lands
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

    got = {}
    if completed:
        got = {
            r["centroid_id"]: (r["n_arrivals"], r["sum_qcos_1e9"])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
    emb = load_table(spark, SF_DIR, "embeddings")
    want = {
        r["centroid_id"]: (r["n_arrivals"], r["sum_qcos_1e9"])
        for r in jobs._ann_assign_agg(emb, SF_DIR).collect()
    }
    counts_ok = completed and set(got) == set(want) and all(
        got[k][0] == want[k][0] for k in want
    )
    # integer-grid sums: equality is EXACT, no epsilon
    sums_ok = completed and counts_ok and all(
        got[k][1] == want[k][1] for k in want
    )

    rec = {
        "sf_dir": SF_DIR,
        "app_id": app_id,
        "topology": "run_stream_ann_assign (built-in streaming aggregation)",
        "state_store": "rocksdb",
        "n_batches": jobs.STATEFUL_N_BATCHES,
        "victim_pid": victim,
        "victim_killed": victim is not None and not _pid_alive(victim),
        "commits_at_kill": commits_at_kill,
        "killed_mid_stream": killed_mid_stream,
        "replacement_executor": replacement,
        "completed": completed,
        "stream_error": stream_err[0] if stream_err else None,
        "n_centroids": len(want),
        "counts_match": counts_ok,
        "sums_match_exact": sums_ok,
    }
    print(json.dumps(rec, indent=1), flush=True)
    spark.stop()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(rec, fh, indent=1)
    ok = killed_mid_stream and completed and counts_ok and sums_ok
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
