"""The two workloads and the passes that run them.

One client, one operation at a time (closed loop), from one driver
process on ``local[cores]``. The engine is driven only through its
public entry points: ``__spark_entry__.queries()`` and
``laplace_blocked.solve_blocked``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from perfbench import checks, procs
from perfbench.tracing import Span, Tracer

# LLM-data pipeline plus one graph round, one or two queries for each
# thing this workload measures: Python workers (the Arrow UDF and the
# PNG decoder), lineage cuts (the perplexity filter and label
# propagation), a driver action during construction (the semantic
# centroid) and the dedup and TF-IDF shuffles. The other corpus queries
# of ``queries()`` are left out to keep a run short (see README.md).
CORPUS = [
    "dedup_exact", "udf_arrow_batch_map", "multimodal_png_decode_stats",
    "text_tfidf_top_terms", "dedup_semantic_centroid",
    "quality_perplexity_filter", "dedup_minhash_lsh",
    "graph_label_propagation",
]

# The paper's solve on a grid small enough to keep a run short (see
# README.md): 1045 iterations, about 33 chunks and 100 jobs.
SOLVER_N = 64
# The warm-up solve stops after this many sweeps: ten chunks of the
# default 32 through the same grid size as the timed solve.
SOLVER_WARMUP_SWEEPS = 320

# A traced run alternates traced (T) and untraced (U) passes as T U T, so
# a linear drift of pass time cancels out of the tracing overhead.
TRACED_BLOCK = (True, False, True)

# The driver heap is fixed (-Xms = -Xmx) and touched in full at start:
# with the default growable 8 GB heap, peak RSS swung from 3.1 to 5.7 GB
# between identical runs, and with a fixed heap touched on demand it
# still swung from 2.4 to 3.1 GB between identical solves.
HEAP = "3g"


def start_session(work_dir: str, cores: int):
    """The engine's session with the status stores sized so that no job,
    stage or SQL execution of a run is evicted before it is read, and
    with every scratch file Spark writes kept under ``work_dir``."""
    from pwir_zadanie_4_mapreduce_spark.session import build_session

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    retained = "1000000"
    return build_session(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.net.preferIPv4Stack=true",
        },
    )


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    started = procs.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        jvm_proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = procs.wait_gone(started)
    if left:
        print(f"killed processes that outlived the session: {left}", file=sys.stderr)


def release(spark) -> None:
    """Unpersist what the previous operation pinned: cached tables and
    the local-checkpoint RDDs that ``clearCache`` does not see."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


class Ops:
    """Operations attempted and failed, with the reason for each failure.
    An operation fails if it raises or if its output fails its check."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []

    def fail(self, name: str, why: str) -> None:
        self.failures.append({"op": name, "why": why})


class QueryWorkload:
    """Every query of the list back to back, each built by its
    ``queries()`` callable and run by a noop write.

    The seed rotates the list: every pass starts at query ``seed mod
    len(list)`` and keeps the list's cyclic order. A query's latency
    depends on the query before it (the garbage and cached blocks that
    one leaves), so full permutations made the per-query median vary 12%
    between seeds against 2% between repeats of one seed; a rotation
    varies the order while keeping each query's predecessor."""

    def __init__(self, name: str, query_names: list[str], spark, sf_dir: str, seed: int):
        import __spark_entry__ as entry

        registry = entry.queries()
        self.name = name
        self.queries = {q: registry[q] for q in query_names}
        self.spark = spark
        self.sf_dir = sf_dir
        self._start = seed % len(query_names)
        self.digests: dict[str, dict] = {}
        self.check_s = 0.0

    def _order(self) -> list[str]:
        names = list(self.queries)
        return names[self._start:] + names[:self._start]

    def warmup(self, ops: Ops) -> None:
        """One untimed pass that collects each result and keeps its
        digest for the output check (the hashing time is kept in
        ``check_s`` so set-up time can leave it out). It also warms the
        JIT and codegen caches: the pass after it is within 2% of later
        ones."""
        for name in self._order():
            release(self.spark)
            ops.attempted += 1
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                cols = df.columns
                rows = df.collect()
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                ops.fail(name, traceback.format_exc(limit=3))
                continue
            t = time.monotonic()
            self.digests[name] = checks.digest([[r[c] for c in cols] for r in rows], cols)
            self.check_s += time.monotonic() - t
        release(self.spark)

    def check(self, expected: dict[str, dict], ops: Ops) -> None:
        for name, got in self.digests.items():
            if got != expected.get(name):
                ops.fail(name, f"output {got} != oracle {expected.get(name)}")

    def run_pass(self, tracer: Tracer, parent: Span, traced: bool, ops: Ops, stores) -> Span:
        """One timed pass. Traced, each build and action call runs under
        its own job group and the storage each query leaves pinned is
        read before release."""
        spark = self.spark
        pinned = []
        with tracer.span(self.name, "pass", parent, traced=traced) as pass_span:
            for name in self._order():
                release(spark)
                ops.attempted += 1
                with tracer.span(name, "query", pass_span) as q:
                    try:
                        with tracer.span(name, "build", q) as b:
                            if traced:
                                set_group(spark, b.group)
                            df = self.queries[name](spark, self.sf_dir)
                        with tracer.span(name, "action", q) as a:
                            if traced:
                                set_group(spark, a.group)
                            df.write.format("noop").mode("overwrite").save()
                    except Exception:  # noqa: BLE001 - counted, not fatal
                        q.attrs["failed"] = True
                        ops.fail(name, traceback.format_exc(limit=3))
                if traced:
                    set_group(spark, None)
                    pinned.append(stores.pinned())
            release(spark)
        pass_span.attrs["pinned"] = pinned
        return pass_span


class SolverWorkload:
    """The paper's computation: ``solve_blocked(spark, n=SOLVER_N)`` at
    its defaults, to convergence. The seed is not used."""

    name = "solver"

    def __init__(self, spark):
        from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

        self._solve = solve_blocked
        self.spark = spark
        self.solves: list[Span] = []
        self.check_s = 0.0

    def warmup(self, ops: Ops) -> None:
        """The first sweeps of the timed solve, untimed and unchecked."""
        ops.attempted += 1
        try:
            self._solve(self.spark, n=SOLVER_N, max_iterations=SOLVER_WARMUP_SWEEPS)
        except Exception:  # noqa: BLE001 - counted, not fatal
            ops.fail("solve_warmup", traceback.format_exc(limit=3))
        release(self.spark)

    def check(self, expected, ops: Ops) -> None:
        """Every timed solve against the reference binary's numbers."""
        for span in self.solves:
            got = (span.attrs["iterations"], span.attrs["final_diff"])
            if not checks.solver_ok(SOLVER_N, *got):
                ops.fail(span.name, f"{got[0]} iterations, final diff {got[1]:.10f} "
                         f"!= {checks.SOLVER_GOLDEN[SOLVER_N]}")

    def run_pass(self, tracer: Tracer, parent: Span, traced: bool, ops: Ops, stores) -> Span:
        """One solve. Its jobs run under the solve's own job group in
        both modes; tracing adds the read of pinned storage."""
        with tracer.span(self.name, "pass", parent, traced=traced) as pass_span:
            with tracer.span(f"solve_n{SOLVER_N}", "solve", pass_span) as s:
                set_group(self.spark, s.group)
                ops.attempted += 1
                try:
                    result = self._solve(self.spark, n=SOLVER_N)
                except Exception:  # noqa: BLE001 - counted, not fatal
                    ops.fail(s.name, traceback.format_exc(limit=3))
                else:
                    s.attrs.update(iterations=result.num_iterations,
                                   final_diff=result.final_diff,
                                   reduce_s=result.breakdown_s)
                    self.solves.append(s)
                set_group(self.spark, None)
            pass_span.attrs["pinned"] = [stores.pinned()] if traced else []
            release(self.spark)
        return pass_span
