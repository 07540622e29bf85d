"""Read Spark's job, stage and SQL status stores from the driver.

The stores are filled by Spark's own listeners whether or not the UI is
enabled. Each read serialises a whole list on the JVM side with the
Jackson mapper Spark ships (one py4j call per list instead of one per
field), so reading a few thousand jobs or stages costs well under a
second.
"""

from __future__ import annotations

import json
import re

# AQE runs each query stage as a job named after the executor thunk
_AQE_PREFIX = "$anonfun$withThreadLocalCaptured"

# SQL-operator metrics of the Python-worker nodes (MapInPandas,
# MapInArrow, ArrowEvalPython, ...), keyed by the name Spark gives them
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
}

_UNIT_SCALE = {
    # timings, to seconds
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    # sizes, to MB (10^6 bytes)
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]+)")


def job_class(name: str) -> str:
    """Layer a Spark job belongs to, from the call site Spark names it by.

    ``parquet`` jobs infer a table schema (``catalog.load_table``);
    ``localCheckpoint``/``checkpoint`` jobs are lineage cuts
    (``functions.lineage``); ``save`` is the timed noop action; AQE
    query-stage jobs run under an executor thunk; every other job is a
    driver action (collect, count, first, take, ...)."""
    head = name.split(" at ", 1)[0]
    if head == "parquet":
        return "catalog"
    if head in ("localCheckpoint", "checkpoint"):
        return "cut"
    if head == "save":
        return "action"
    if head.startswith(_AQE_PREFIX):
        return "aqe_stage"
    return "driver_action"


def parse_metric_value(text: str) -> float:
    """Spark's display string of one SQL metric, in seconds or MB.

    A metric updated by one task reads ``"888 ms"``; one updated by
    several reads ``"total (min, med, max ...)\\n2.6 s (...)"``."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m or m.group(2) not in _UNIT_SCALE:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1)) * _UNIT_SCALE[m.group(2)]


class StatusStores:
    """The application's job/stage store and the SQL execution store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._jvm = jvm
        self._tracker = sc.statusTracker()
        self._jobs = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._persistent = sc._jsc.getPersistentRDDs
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def job_ids(self, group: str) -> set[int]:
        """Job ids of one job group, from the status tracker."""
        return set(self._tracker.getJobIdsForGroup(group))

    def jobs(self, groups: set[str]) -> list[dict]:
        """Every retained job of the given groups, with its layer class
        and submission/completion times in epoch seconds."""
        out = []
        for job in self._json(self._jobs.jobsList(None)):
            if job.get("jobGroup") not in groups:
                continue
            job["class"] = job_class(job["name"])
            job["start"] = job["submissionTime"] / 1000.0
            job["end"] = job["completionTime"] / 1000.0
            out.append(job)
        return sorted(out, key=lambda j: j["jobId"])

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Completed attempts of the given stages (skipped ones excluded)."""
        empty = self._gateway.new_array(self._jvm.double, 0)
        rows = self._json(self._jobs.stageList(None, False, False, empty, None))
        return [
            s for s in rows
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-worker metrics summed over the SQL executions that ran
        any of the given jobs."""
        totals = dict.fromkeys(PY_METRICS.values(), 0.0)
        for ex in self._json(self._sql.executionsList()):
            ran = {int(j) for j in ex.get("jobs", {})}
            if not ran & job_ids:
                continue
            wanted = {
                m["accumulatorId"]: PY_METRICS[m["name"]]
                for m in ex.get("metrics", [])
                if m["name"] in PY_METRICS
            }
            if not wanted:
                continue
            values = self._json(self._sql.executionMetrics(ex["executionId"]))
            for acc, key in wanted.items():
                text = values.get(str(acc))
                if text:
                    totals[key] += parse_metric_value(text)
        return totals

    def pinned(self) -> tuple[int, float]:
        """RDDs persisted right now (caches and local checkpoints) and the
        MB they hold in memory and on disk."""
        count = self._persistent().size()
        mb = sum(
            (r["memoryUsed"] + r["diskUsed"]) / 1e6
            for r in self._json(self._jobs.rddList(True))
        )
        return count, mb
