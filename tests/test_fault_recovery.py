"""Executor-loss recovery for the iterative family (round-9 verdict #5),
and for a query whose tasks run in Python workers.

Gated behind PWIR_CHAOS=1: it boots a multi-JVM local-cluster in a
subprocess (own session, so it can never collide with the suite's
local[SPARK_GRAFT_CPUS] fixture), SIGKILLs an executor JVM mid-query, and
hash-compares against an undisturbed baseline. ~3-5 min.

The committed evidence from running this harness is CHAOS_r10.json
(tools/chaos_kill.py --out). Default-mode (localCheckpoint) behavior
under executor loss is recorded there too — it is the failure the
reliable mode exists to fix, not an assertion of this test.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    not os.environ.get("PWIR_CHAOS"),
    reason="executor-kill chaos run (local-cluster, ~3-5 min); set PWIR_CHAOS=1",
)
def test_reliable_checkpoint_survives_executor_kill(tmp_path):
    out = tmp_path / "chaos.json"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "chaos_kill.py"),
            "--mode",
            "reliable",
            "--kills",
            "2",  # lose BOTH original executors: no pre-kill block survives
            "--out",
            str(out),
            "dedup_cluster_components",
            "graph_pagerank_fixed",
            # decodes in Python workers: the killed executor holds a
            # worker daemon and its Unix socket
            "multimodal_png_decode_stats",
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = json.loads(out.read_text())
    for name, rec in report["results"].items():
        assert rec["victim_killed"] and rec["killed_mid_run"], (name, rec)
        assert rec["hash_match"], (name, rec)
