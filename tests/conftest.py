"""Shared fixtures: one SparkSession per test run, DuckDB connection
with the fixture tables pre-registered (mirroring the driver)."""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# transformWithStateInPandas needs google.protobuf in driver AND
# workers; when absent, activate the vendored-SDK shim (see
# tools/pb_shim/google/__init__.py) BEFORE the session fixture starts
# so worker processes inherit it via PYTHONPATH.
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

SMOKE_SF = "/root/testdata/sf0.001"
CORRECTNESS_SF = "/root/testdata/sf0.01"

# both broadcast thresholds off: no join is planned or re-planned as a
# broadcast unless a hint asks for it
NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from pwir_zadanie_4_mapreduce_spark.session import build_session

    warehouse = tempfile.mkdtemp(prefix="pwir_warehouse_")
    spark = build_session(
        cpus=None,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SMOKE_SF}/{name}.parquet'"
        )
    yield con
    con.close()


@contextlib.contextmanager
def session_conf(spark, settings: dict[str, str]):
    """Set ``settings`` on the shared session for the block, then put
    each key back. A key that was unset before is unset again: leaving
    e.g. ``adaptive.autoBroadcastJoinThreshold=-1`` behind would turn
    off AQE's broadcast conversion for every later test."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture()
def no_broadcast(spark):
    with session_conf(spark, NO_BROADCAST):
        yield spark


def traced_jobs(spark, group: str, fn):
    """Run ``fn`` under its own job group; return its result and, per
    job in submission order, the job's name (the call site Spark names
    it by, e.g. ``collect at ...``; an AQE query-stage job is named
    after the executor thunk it runs in) with the (name, task count) of
    each stage it ran. A skipped stage (its shuffle output was reused)
    completes no tasks and is left out; it is also the first kind of
    stage the status store evicts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is filled by a listener on Spark's event bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in sorted(tracker.getJobInfo(job_id).stageIds)]
        done = [(s.name, s.numTasks) for s in stages if s and s.numCompletedTasks > 0]
        jobs.append((store.job(job_id).name(), done))
    return out, jobs


def run_driver(script: str, cwd, env: dict[str, str] | None = None):
    """Run ``script`` in a fresh Python process from ``cwd``, the way a
    driver program that imports this repo runs: its own JVM in local
    mode (``SPARK_GRAFT_MASTER`` unset), and a PYTHONPATH without the
    repo root this test session added. ``env`` entries are set on top.
    Returns the completed process; stdout and stderr are text."""
    import subprocess

    environ = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **(env or {})}
    environ.pop("SPARK_GRAFT_MASTER", None)
    parts = [p for p in environ.pop("PYTHONPATH", "").split(os.pathsep) if p and p != REPO_ROOT]
    if parts:
        environ["PYTHONPATH"] = os.pathsep.join(parts)
    prelude = f"import sys\nsys.path.insert(0, {REPO_ROOT!r})\n"
    return subprocess.run(
        [sys.executable, "-c", prelude + script],
        cwd=cwd, env=environ, capture_output=True, text=True, timeout=300,
    )
