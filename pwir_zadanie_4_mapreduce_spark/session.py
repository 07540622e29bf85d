"""SparkSession construction with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM), but every conf here is
chosen to also be the right call on a 1000-executor cluster reading
100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — replaces the reference's hand-rolled load
  balancing of remainder rows (laplace-par.c:248-251).
- Arrow on for every pandas-UDF boundary.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- shuffle partitions sized to cores locally; at cluster scale this is
  overridden per-job (or left to AQE's coalescing with a high initial
  count).
- Python workers fork from ``worker_daemon`` instead of
  ``pyspark.daemon``: it drops the ``.zip``/``.jar`` entries of the
  workers' path whose packages all import unpacked at the same version,
  so the ``importlib.invalidate_caches()`` PySpark runs for every task
  has no zipimporter left to re-read (about 0.17 s per task before). An
  archive that is the only source of a package, or carries another
  version, stays, and the daemon is then PySpark's own.
- Python workers talk to their executor over a Unix domain socket
  (``spark.python.unix.domain.socket.enabled``), and so does the
  driver's accumulator server. Over loopback TCP, a worker waited
  about 42 ms for a 32 KB input block, and a solver round is one such
  task: the Unix socket delivers it in 0.16 ms. The socket files go in
  each JVM's ``java.io.tmpdir``, and Linux caps a socket path at 107
  bytes, so when a known tmpdir (or an explicit socket dir) is too
  long for a socket name, the sockets go to ``/tmp`` instead
  (``unix_socket_dir``). Only sessions this module builds use the
  socket; a session built elsewhere keeps TCP.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shlex

from pyspark.sql import SparkSession

from pwir_zadanie_4_mapreduce_spark import worker_daemon
from pwir_zadanie_4_mapreduce_spark.functions.lineage import release_cut

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SOCKET_DIR_CONF = "spark.python.unix.domain.socket.dir"
# sockaddr_un.sun_path holds 108 bytes, the last one the terminating NUL
MAX_SOCKET_PATH = 107
# PySpark and Spark name each socket "/.<uuid4>.sock" inside the dir
_SOCKET_NAME_LEN = len("/.") + 36 + len(".sock")
_JAVA_OPTIONS = (
    "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions",
)


def _java_tmpdir(options: str) -> str | None:
    """The ``java.io.tmpdir`` a JVM option string sets, if any (the
    last setting wins, as on the JVM's command line)."""
    found = None
    for token in shlex.split(options):
        if token.startswith("-Djava.io.tmpdir="):
            found = token.split("=", 1)[1]
    return found


def unix_socket_dir(conf: dict[str, str], environ=os.environ) -> str | None:
    """The ``spark.python.unix.domain.socket.dir`` a session with
    ``conf`` should set, or None to leave each JVM its own
    ``java.io.tmpdir``.

    The sockets go in the explicit dir of ``conf`` if it names one;
    otherwise in the ``java.io.tmpdir`` that ``JAVA_TOOL_OPTIONS`` or
    the driver's or executors' ``extraJavaOptions`` set; otherwise in
    the JVM default, ``/tmp``. If one of these dirs is too long for a
    socket path, the answer is ``/tmp``, which every Linux host has.
    The driver's own ``TMPDIR`` is not a candidate: on a cluster that
    path need not exist on the executors."""
    explicit = conf.get(SOCKET_DIR_CONF)
    if explicit:
        dirs = [explicit]
    else:
        options = [environ.get("JAVA_TOOL_OPTIONS", "")]
        options += [conf.get(k, "") for k in _JAVA_OPTIONS]
        dirs = [d for d in map(_java_tmpdir, options) if d]
    if all(len(d.rstrip("/").encode()) + _SOCKET_NAME_LEN <= MAX_SOCKET_PATH for d in dirs):
        return explicit
    return "/tmp"


def _ensure_worker_importable() -> None:
    """Python workers unpickle module-level functions (mapInPandas,
    UDFs) by importing this package — which fails when the driver runs
    from another cwd. Prepend the repo root to PYTHONPATH before the
    JVM starts so local-mode workers inherit it; on a real cluster the
    equivalent is shipping the package via --py-files / spark.submit.pyFiles."""
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if _REPO_ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT, *parts])


def build_session(
    app_name: str = "pwir-zadanie-4-mapreduce-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    SPARK_GRAFT_MASTER overrides the master URL — e.g.
    ``local-cluster[2,8,4096]`` runs 2 REAL executor JVMs (own
    heaps, real serialization/broadcast/exchange transport), the
    closest single-machine approximation of a cluster and the
    multi-process evidence mode (SCALE.md). Python workers on those
    executors must import this package, so the PYTHONPATH prepared by
    _ensure_worker_importable (repo root + any active shim) is passed
    through spark.executorEnv explicitly.
    """
    _ensure_worker_importable()
    cpus = cpus or DEFAULT_CPUS
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE on scan parallelism at test SF: every fixture parquet is
        # a SINGLE row group, so parquet scans cannot split below one
        # task no matter how low maxPartitionBytes goes (verified:
        # 4 MB splits put all 600k lineitem rows in one partition, and
        # interleaved A/B timing showed no difference). The lever that
        # DOES work is an explicit repartition before CPU-heavy
        # per-row stages — catalog.spread(), used by the shingling /
        # signature / Arrow-decode operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    socket_dir = unix_socket_dir(extra_conf)
    if socket_dir:
        builder = builder.config(SOCKET_DIR_CONF, socket_dir)
    spark = builder.getOrCreate()
    address = spark.sparkContext._accumulatorServer.server_address
    if isinstance(address, str):
        # SparkContext.stop() removes the accumulator server's socket
        # file; a driver that exits without stopping would leave it
        atexit.register(_remove_file, address)
    return spark


def _remove_file(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def get_or_tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us a SparkSession we didn't build; set the confs
    that are session-scoped (not JVM-startup-scoped) so oracle
    comparisons and small-SF plans behave.
    """
    conf = spark.conf
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        try:
            conf.set(k, v)
        except Exception:
            pass  # some confs may be fixed by the driver's session
    return spark


def pinned_rdds(spark: SparkSession) -> set[int]:
    """The ids of the RDDs the session holds in block storage:
    ``persist``/``cache`` and ``localCheckpoint`` both register in
    ``JavaSparkContext.getPersistentRDDs``, which
    ``catalog.clearCache()`` does not cover. The private ``_jsc``
    handle is the only way to it from Python; this is the one place
    that reaches for it."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def release_storage(spark: SparkSession) -> None:
    """Unpersist caches/localCheckpoints the previous query pinned.

    Several operators localCheckpoint intermediate frames (the
    at-scale equivalent is staging to a table); without cleanup
    those blocks accumulate across a long run of queries, and late
    queries measure the storage pressure of every earlier one
    (observed 10× slowdowns) instead of their own plan. Releases
    EVERYTHING the session holds: a DataFrame built before the call
    and read after it fails on its released local checkpoint, so call
    it between queries, never under a live one."""
    spark.catalog.clearCache()
    try:
        # Guarded: pinned_rdds rides a private API with no stability
        # guarantee, and losing the cleanup must not abort the
        # caller's run.
        for rdd_id in pinned_rdds(spark):
            release_cut(spark.sparkContext, rdd_id)
    except Exception:
        pass
