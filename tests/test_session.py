"""The Python worker setup of ``build_session``: the worker daemon's
archive prune and the Unix-socket transport with its socket-dir rule,
each checked with no Spark where it can be, then on the shared
session and on sessions of their own in a fresh process."""

from __future__ import annotations

import json
import os
import stat
import zipfile

import py4j
import pyspark
import pytest

from pwir_zadanie_4_mapreduce_spark.session import SOCKET_DIR_CONF, unix_socket_dir
from pwir_zadanie_4_mapreduce_spark.worker_daemon import prune_archives, redundant

from tests.conftest import run_driver
from tests.test_laplace import solve_scalar

SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _archive(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _package(name: str, version: str) -> dict[str, str]:
    return {
        f"{name}/__init__.py": "",
        f"{name}/version.py": f"__version__: str = '{version}'\n",
    }


def test_zip_only_package_is_kept(tmp_path):
    only = _archive(tmp_path / "only.zip", {"graft_zip_only_pkg/__init__.py": ""})
    assert not redundant(only, [SITE])


def test_version_skewed_pyspark_is_kept(tmp_path):
    skewed = _archive(tmp_path / "pyspark.zip", _package("pyspark", "0.0.1"))
    assert pyspark.__version__ != "0.0.1"
    assert not redundant(skewed, [SITE])


def test_jar_without_python_is_removed(tmp_path):
    jar = _archive(
        tmp_path / "spark-core.jar",
        {"META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n", "org/Core.class": ""},
    )
    assert redundant(jar, [SITE])


def test_zip_of_installed_packages_is_removed(tmp_path):
    same = _archive(
        tmp_path / "lib.zip",
        {**_package("pyspark", pyspark.__version__), **_package("py4j", py4j.__version__)},
    )
    assert redundant(same, [SITE])


def test_unreadable_archive_is_kept(tmp_path):
    broken = tmp_path / "broken.zip"
    broken.write_text("not a zip")
    assert not redundant(str(broken), [SITE])


def test_prune_drops_only_redundant_entries_and_their_importers(tmp_path):
    same = _archive(tmp_path / "same.zip", _package("pyspark", pyspark.__version__))
    only = _archive(tmp_path / "only.zip", {"graft_zip_only_pkg/__init__.py": ""})
    missing = str(tmp_path / "python3xx.zip")
    path = [same, only, missing, SITE]
    cache = {
        same: "importer",
        os.path.join(same, "pyspark"): "importer",
        only: "importer",
        SITE: "finder",
    }
    assert prune_archives(path, cache) == [same, missing]
    assert path == [only, SITE]
    assert cache == {only: "importer", SITE: "finder"}


@pytest.mark.skipif(
    not os.path.isfile(pyspark.__file__) or not os.path.isfile(py4j.__file__),
    reason="pyspark or py4j is not installed unpacked, so the daemon keeps the archives",
)
def test_worker_imports_unpacked(spark):
    def report(_):
        import sys
        import zipimport

        import py4j
        import pyspark

        yield (
            sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
            [p for p in sys.path if p.lower().endswith((".zip", ".jar"))],
            pyspark.__file__,
            py4j.__file__,
        )

    [(zipimporters, archives, pyspark_file, py4j_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(report).collect()
    )
    assert zipimporters == 0
    assert archives == []
    assert os.path.isfile(pyspark_file)
    assert os.path.isfile(py4j_file)


# The Python worker transport: a Unix domain socket on sessions that
# build_session makes, loopback TCP on any other.

TOOL_TMPDIR = "JAVA_TOOL_OPTIONS"


def _tmpdir_options(path: str) -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={path}"


def test_socket_dir_short_tmpdir_is_kept():
    env = {TOOL_TMPDIR: _tmpdir_options("/" + "d" * 63)}  # 64 + 43 = 107 bytes
    assert unix_socket_dir({}, env) is None
    assert unix_socket_dir({}, {}) is None  # the JVM default, /tmp


@pytest.mark.parametrize(
    "conf, env",
    [
        ({}, {TOOL_TMPDIR: _tmpdir_options("/" + "d" * 64)}),
        ({}, {TOOL_TMPDIR: _tmpdir_options("/" + "d" * 99)}),
        ({"spark.driver.extraJavaOptions": _tmpdir_options("/" + "d" * 99)}, {}),
        ({"spark.executor.extraJavaOptions": _tmpdir_options("/" + "d" * 99)}, {}),
        ({SOCKET_DIR_CONF: "/" + "d" * 99}, {}),
    ],
)
def test_socket_dir_long_dir_falls_back_to_tmp(conf, env):
    assert unix_socket_dir(conf, env) == "/tmp"


def test_socket_dir_explicit_conf_wins():
    conf = {SOCKET_DIR_CONF: "/run/spark"}
    env = {TOOL_TMPDIR: _tmpdir_options("/" + "d" * 99)}
    assert unix_socket_dir(conf, env) == "/run/spark"


def test_tuned_session_uses_unix_sockets(spark):
    address = spark.sparkContext._accumulatorServer.server_address
    assert isinstance(address, str) and os.path.isabs(address)
    assert stat.S_ISSOCK(os.stat(address).st_mode)

    def transport(_):
        import os

        yield os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(transport).collect() == ["true"]


SOLVE_N8 = """
import json
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked
r = solve_blocked(spark, 8)
print(json.dumps({
    "address": spark.sparkContext._accumulatorServer.server_address,
    "socket_dir": spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"),
    "iterations": r.num_iterations,
    "final_diff": r.final_diff,
    "cells": [row.v for row in r.grid.orderBy("i", "j").collect()],
}))
"""


def _solved_n8(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    grid, iterations, final_diff = solve_scalar(8)
    assert out["iterations"] == iterations
    assert out["final_diff"] == final_diff
    assert [out["cells"][i * 8 : (i + 1) * 8] for i in range(8)] == grid
    return out


def test_untuned_session_solves_over_tcp(tmp_path):
    """The driver's own session, built without build_session: the
    solver's maxima reach the driver through a TCP accumulator
    server."""
    script = """
from pyspark.sql import SparkSession
from pwir_zadanie_4_mapreduce_spark.session import get_or_tune
spark = get_or_tune(
    SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
)
""" + SOLVE_N8
    _host, port = _solved_n8(run_driver(script, tmp_path))["address"]
    assert isinstance(port, int)


def test_long_java_tmpdir_session_starts(tmp_path):
    """A JVM tmpdir too long for a socket name: build_session puts the
    sockets in /tmp, and the session starts and solves. The driver
    exits without stopping its session, and its accumulator socket
    file goes with it."""
    tmpdir = tmp_path / ("t" * 64)
    tmpdir.mkdir()
    script = """
from pwir_zadanie_4_mapreduce_spark.session import build_session
spark = build_session(cpus=2)
""" + SOLVE_N8
    out = _solved_n8(run_driver(script, tmp_path, {TOOL_TMPDIR: _tmpdir_options(str(tmpdir))}))
    assert out["socket_dir"] == "/tmp"
    assert os.path.dirname(out["address"]) == "/tmp"
    assert not os.path.exists(out["address"])
