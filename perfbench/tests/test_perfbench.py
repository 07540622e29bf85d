"""Tests of the benchmark itself, on the sf0.001 fixtures.

Run from the repository root with ``python -m pytest perfbench/tests -q``
(a few minutes: two corpus runs and one solver run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, run  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS, SOLVER_N, Ops, QueryWorkload, start_session, stop_session,
)

SF = "/root/testdata/sf0.001"
SEED = 3


def _cli(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--sf-dir", SF],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{SEED}-trace{trace}"
    with open(os.path.join(run.WORK, f"report-{tag}.json")) as fh:
        report = json.load(fh)
    spans = []
    if trace:
        with open(os.path.join(run.WORK, f"spans-{tag}.jsonl")) as fh:
            spans = [json.loads(s) for s in fh]
    return {"line": line, "report": report, "spans": spans}


@pytest.fixture(scope="module")
def runs() -> dict:
    return {
        ("corpus", 0): _cli("corpus", 0),
        ("corpus", 1): _cli("corpus", 1),
        ("solver", 1): _cli("solver", 1),
    }


def test_output_schema(runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for (workload, trace), out in runs.items():
        line = out["line"]
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
        wanted = spec["per_layer"] if trace else spec["end_to_end"]
        assert {m["name"]: m["unit"] for m in wanted} == {
            k: v["unit"] for k, v in line["metrics"].items()
        }
        full = out["report"]["metrics"]
        for name, metric in line["metrics"].items():
            assert isinstance(metric["value"], (int, float)), (workload, name)
            assert full[name]["value"] == metric["value"]
            assert full[name]["samples"] >= 1, (workload, name)
        assert out["report"]["testdata_fingerprint"]
    solver = runs[("solver", 1)]["line"]["metrics"]
    assert solver["solver_iterations"]["value"] == checks.SOLVER_GOLDEN[SOLVER_N][0]
    assert solver["catalog_jobs"]["value"] == 0


def test_job_class_attribution(runs):
    out = runs[("corpus", 1)]
    spans = out["spans"]
    by_id = {s["span_id"]: s for s in spans}
    jobs = [s for s in spans if s["kind"] == "job"]
    assert jobs
    for job in jobs:
        call = by_id[job["parent_id"]]
        assert call["kind"] in ("build", "action")
        assert call["start"] - 0.01 <= job["start"] <= job["end"] <= call["end"] + 0.01
        if job["attrs"]["class"] == "catalog":
            assert call["kind"] == "build"

    def traced_calls(kind):
        # call -> query -> pass; only traced passes have job spans
        return [s for s in spans if s["kind"] == kind
                and by_id[by_id[s["parent_id"]]["parent_id"]]["attrs"]["traced"]]

    assert len(traced_calls("action")) == 2 * len(CORPUS)
    for call in traced_calls("action"):
        classes = [j["attrs"]["class"] for j in jobs if j["parent_id"] == call["span_id"]]
        assert classes.count("action") == 1, call["name"]
        assert set(classes) <= {"action", "aqe_stage"}, call["name"]
    # the perplexity filter loads one table and cuts its lineage twice
    for build in (s for s in traced_calls("build") if s["name"] == "quality_perplexity_filter"):
        classes = [j["attrs"]["class"] for j in jobs if j["parent_id"] == build["span_id"]]
        assert classes.count("catalog") == 1 and classes.count("cut") == 2
    traced = [p for p in out["report"]["passes"] if p["traced"]]
    assert len(traced) == 2 and traced[0]["jobs_by_class"] == traced[1]["jobs_by_class"]
    layer = out["line"]["metrics"]
    assert layer["catalog_jobs"]["value"] == traced[0]["jobs_by_class"]["catalog"]
    assert layer["action_jobs"]["value"] + layer["build_jobs"]["value"] == sum(
        traced[0]["jobs_by_class"].values())
    for p, m in zip(traced, out["report"]["per_layer_by_pass"]):
        assert m["build_s"] + m["action_s"] <= p["s"]
        assert m["catalog_s"] <= m["build_s"] and m["build_self_s"] <= m["build_s"]
    traced_s = sorted(p["s"] for p in traced)
    assert layer["build_s"]["value"] + layer["action_s"]["value"] <= sum(traced_s) / 2


def test_wrong_output_counts_as_failure():
    names = ["dedup_exact", "text_tfidf_top_terms"]
    spark = start_session(run.WORK, 2)
    try:
        wl = QueryWorkload("corpus", names, spark, SF, seed=0)
        right = wl.queries["dedup_exact"]
        wl.queries["dedup_exact"] = lambda s, d: right(s, d).limit(1)
        ops = Ops()
        wl.warmup(ops)
    finally:
        stop_session(spark)
    wl.check(checks.oracle_digests(SF, names), ops)
    assert [f["op"] for f in ops.failures] == ["dedup_exact"]
    assert run.success_rate(ops) == pytest.approx(50.0)
