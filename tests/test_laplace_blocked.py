"""Golden-output tests for the Laplace solver
(`laplace_blocked.solve_blocked`).

Same oracle as test_laplace.py — the reference binary's exact
iteration counts and grids — plus bit-equality with the scalar
reference there (a cell-by-cell transliteration of the C loop): grid
doubles, iteration count and final diff must all be equal.

The block/chunk knobs are deliberately exercised off the defaults
(forced multi-block, tiny chunks, mid-chunk convergence) because at
test N the sizing heuristic would otherwise collapse to one block.
"""

from __future__ import annotations

import pytest
from pyspark import cloudpickle
from pyspark.core import rdd as core_rdd
from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark import laplace, laplace_blocked
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked
from pwir_zadanie_4_mapreduce_spark.session import pinned_rdds

from tests.conftest import run_driver, session_conf, traced_jobs
from tests.test_laplace import GOLDEN_N4, GOLDEN_N8, GOLDEN_STATS, solve_scalar


def _assert_matches_scalar(r, n: int, max_iterations: int | None = None) -> None:
    grid, iterations, final_diff = solve_scalar(n, max_iterations)
    assert r.num_iterations == iterations
    assert r.final_diff == final_diff
    cells = [row["v"] for row in r.grid.orderBy("i", "j").collect()]
    assert [cells[i * n : (i + 1) * n] for i in range(n)] == grid


def test_n_below_2_rejected(spark):
    with pytest.raises(ValueError):
        solve_blocked(spark, 1)


def test_n2_no_interior_cells(spark):
    r = solve_blocked(spark, 2)
    assert r.num_iterations == 1
    assert r.final_diff == 0.0


def test_n4_exact_golden_grid_multiblock(spark):
    # 2 blocks of 2 rows, chunks of 4 sweeps: convergence at iteration
    # 15 lands mid-chunk (15 = 3*4 + 3), covering the recompute path
    r = solve_blocked(spark, 4, num_blocks=2, sweeps_per_job=4)
    assert r.num_iterations == 15
    assert laplace.format_grid(r, 4) == GOLDEN_N4


def test_n4_exact_golden_grid_chunk_boundary(spark):
    # sweeps_per_job=5: 15 = 3*5 exactly — convergence on the last
    # sweep of a chunk (the no-recompute branch)
    r = solve_blocked(spark, 4, num_blocks=1, sweeps_per_job=5)
    assert r.num_iterations == 15
    assert laplace.format_grid(r, 4) == GOLDEN_N4


def test_n8_iterations_and_grid(spark):
    # 3 blocks → ragged last block (8 rows into blocks of 3+3+2),
    # halo (2k=8) wider than a block — the all-to-all degenerate case
    r = solve_blocked(spark, 8, num_blocks=3, sweeps_per_job=4)
    assert (r.num_iterations, f"{r.final_diff:.10f}") == GOLDEN_STATS[8]
    assert laplace.format_grid(r, 8) == GOLDEN_N8


def test_n8_bit_identical_to_scalar_reference(spark):
    _assert_matches_scalar(solve_blocked(spark, 8, num_blocks=2, sweeps_per_job=8), 8)


def test_odd_n_bit_identical_to_scalar_reference(spark):
    """Odd n gives the sweep kernel's two column parities unequal
    widths: capped after two 3-sweep chunks over two blocks, and to
    convergence at the default sizing."""
    n = 9
    r = solve_blocked(spark, n, num_blocks=2, sweeps_per_job=3, max_iterations=6)
    _assert_matches_scalar(r, n, max_iterations=6)
    _assert_matches_scalar(solve_blocked(spark, n), n)


def test_n16_stats_default_sizing(spark):
    # defaults (heuristic block count, k=32): one block, 5 chunks
    r = solve_blocked(spark, 16)
    assert (r.num_iterations, f"{r.final_diff:.10f}") == GOLDEN_STATS[16]


def test_n32_stats_default_sizing(spark):
    # defaults: one block, 12 one-task chunks
    r = solve_blocked(spark, 32)
    assert (r.num_iterations, f"{r.final_diff:.10f}") == GOLDEN_STATS[32]


def test_blocked_storage_stays_bounded(spark, monkeypatch):
    """Round-4 advice: the chunk loop must release the previous
    chunk's cut — small k at N=16 runs many chunks, each storing a
    grid. After the solve exactly one of its RDDs stays in block
    storage, the final grid, with every one of its nb partitions
    stored: each round's own job filled its cut. (A Python-side action
    over the cut would run the kernel in a new RDD of its own and leave
    the cut empty.)"""
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    for num_blocks in (1, 3):
        before = set(pinned_rdds(spark))
        r = solve_blocked(spark, 16, num_blocks=num_blocks, sweeps_per_job=8)
        assert r.num_iterations == 132
        live = set(pinned_rdds(spark)) - before
        assert len(live) == 1, f"chunk cuts leaked: {sorted(live)}"
        stored = {info.id(): info for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        (rdd_id,) = live
        assert stored[rdd_id].numPartitions() == num_blocks
        assert stored[rdd_id].numCachedPartitions() == num_blocks


def test_solve_logs_no_checkpoint_warning(tmp_path):
    """Releasing a round's cut writes nothing to the log: an N=16 solve
    (5 rounds) in a session of its own, whose JVM stderr this test can
    read, at Spark's default WARN level."""
    proc = run_driver(
        """
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked
from pwir_zadanie_4_mapreduce_spark.session import build_session
r = solve_blocked(build_session(cpus=2), 16)
print(r.num_iterations, f"{r.final_diff:.10f}")
""",
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert tuple(proc.stdout.split()) == (str(GOLDEN_STATS[16][0]), GOLDEN_STATS[16][1])
    assert "locally checkpointed" not in proc.stderr
    # every round reuses one accumulator per chunk size
    assert "Failed to update accumulator" not in proc.stderr
    assert "non-existent accumulator" not in proc.stderr


def _record_kernel_wraps(monkeypatch) -> list:
    """Record, for the rest of the test, every Python function pickled
    into a JVM ``PythonFunction`` whose pickle carries the sweep kernel
    (shuffle-keying and result-DataFrame functions do not)."""
    real = core_rdd._wrap_function
    wraps = []

    def recording(sc, func, *args, **kwargs):
        if b"run_local_sweeps" in cloudpickle.dumps(func):
            wraps.append(func)
        return real(sc, func, *args, **kwargs)

    monkeypatch.setattr(core_rdd, "_wrap_function", recording)
    monkeypatch.setattr(laplace_blocked, "_wrap_function", recording, raising=False)
    return wraps


@pytest.mark.parametrize("num_blocks", [1, 3])
def test_kernel_wrapped_once_per_chunk_size(spark, monkeypatch, num_blocks):
    """The kernel is pickled once per distinct chunk size in a solve,
    not once per round: N=16 at k=8 runs 17 chunks, the last converging
    mid-way, and a redo of 4 sweeps, so two chunk sizes."""
    wraps = _record_kernel_wraps(monkeypatch)
    r = solve_blocked(spark, 16, num_blocks=num_blocks, sweeps_per_job=8)
    assert r.num_iterations == 132
    assert 1 <= len(wraps) <= 2, len(wraps)


def _lineage_depth(jrdd) -> int:
    """The longest dependency chain from the JVM RDD ``jrdd``, itself
    included."""
    deps = jrdd.dependencies()
    return 1 + max((_lineage_depth(deps.apply(i).rdd()) for i in range(deps.size())), default=0)


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_final_grid_lineage_is_cut(spark, monkeypatch, reliable):
    """A round's job does not checkpoint its RDD by itself; the round
    does. After a solve the final grid is checkpointed, in both
    checkpoint modes, and its lineage is as deep for k=8 (18 rounds)
    as for k=2 (66 rounds)."""
    if reliable:
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    else:
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    sc = spark.sparkContext
    depths = []
    for k in (8, 2):
        before = pinned_rdds(spark)
        r = solve_blocked(spark, 16, num_blocks=1, sweeps_per_job=k)
        assert r.num_iterations == 132
        (rdd_id,) = pinned_rdds(spark) - before
        grid = sc._jsc.getPersistentRDDs().get(rdd_id).rdd()
        assert grid.isCheckpointed(), k
        depths.append(_lineage_depth(grid))
    assert depths[0] == depths[1], depths


def test_max_iterations_cap(spark):
    r = solve_blocked(spark, 16, sweeps_per_job=8, max_iterations=20)
    assert r.num_iterations == 20
    assert r.final_diff > r.epsilon


def test_chunking_invariance_bit_exact(spark):
    """The chunk size and block count are pure execution knobs: any
    (num_blocks, sweeps_per_job) combination must produce bit-identical
    grids and identical iteration counts — this sweeps the mid-chunk
    convergence recompute, the chunk-boundary branch (86 = 2·43
    sweeps), halo-wider-than-block placements, and k=1 (degenerate
    one-sweep chunks, one job per sweep, so capped at a few sweeps
    and checked against the scalar reference) in one invariant."""
    n = 12
    base = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=64)
    base_grid = laplace.format_grid(base, n)
    assert base.num_iterations == 86
    for nb, k in [(3, 5), (4, 7), (2, 64), (1, 43)]:
        r = solve_blocked(spark, n, num_blocks=nb, sweeps_per_job=k)
        assert r.num_iterations == base.num_iterations, (nb, k)
        assert laplace.format_grid(r, n) == base_grid, (nb, k)
    r = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=1, max_iterations=4)
    _assert_matches_scalar(r, n, max_iterations=4)


def test_chunking_invariance_reliable_checkpoints(spark, monkeypatch):
    """In reliable mode each chunk's cut is persisted and checkpointed:
    the chunk's job fills the stored blocks and a second job writes
    the checkpoint files from them; grids,
    iteration counts and final diffs must still match the
    local-checkpoint run bit for bit — a chunk-boundary convergence,
    a mid-chunk convergence redo with the halo wider than the block,
    and capped k=1 chunks (against the scalar reference) included."""
    n = 12
    base = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=64)
    base_grid = laplace.format_grid(base, n)
    # convergence lands mid-chunk for k=5 and k=64, on a chunk end for k=43
    assert base.num_iterations % 5 != 0 and base.num_iterations % 64 != 0
    assert base.num_iterations % 43 == 0
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    for nb, k in [(3, 5), (2, 64), (1, 43)]:
        r = solve_blocked(spark, n, num_blocks=nb, sweeps_per_job=k)
        assert r.num_iterations == base.num_iterations, (nb, k)
        assert r.final_diff == base.final_diff, (nb, k)
        assert laplace.format_grid(r, n) == base_grid, (nb, k)
    r = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=1, max_iterations=4)
    _assert_matches_scalar(r, n, max_iterations=4)


def _solve_traced(spark, monkeypatch, group: str, n: int, **kw):
    """Run ``solve_blocked`` with local checkpoints under its own job
    group (``traced_jobs``)."""
    # reliable checkpoints add one file-writing job per cut
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    return traced_jobs(spark, group, lambda: solve_blocked(spark, n, **kw))


def _assert_rounds_read_cuts(spark, group: str) -> None:
    """Per job of ``group``, in submission order, the records its first
    stage read as input: the first round computes the initial grid in
    its own task and reads none; every later one, the redo included,
    reads its start grid from the cut an earlier round filled, rather
    than running that round's kernel again."""
    sc = spark.sparkContext
    tracker, store, jvm = sc.statusTracker(), sc._jsc.sc().statusStore(), sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    records = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        first = min(tracker.getJobInfo(job_id).stageIds)
        stage = store.stageData(first, False, jvm.java.util.ArrayList(), False, no_quantiles)
        records.append(stage.head().inputRecords())
    assert records[0] == 0 and all(r > 0 for r in records[1:]), records


def _python_passes(spark, stage_id: int) -> int:
    """The Python functions a task of the stage runs, read from the
    stage's RDD graph in the status store: its ``PythonRDD``s, less
    the cut of an earlier round it reads (a ``PythonRDD`` whose parent
    is now a checkpoint RDD)."""
    graph = spark.sparkContext._jsc.sc().statusStore().operationGraphForStage(stage_id)
    names: dict[int, str] = {}

    def walk(cluster):
        nodes, clusters = cluster.childNodes(), cluster.childClusters()
        for i in range(nodes.size()):
            names[nodes.apply(i).id()] = nodes.apply(i).name()
        for i in range(clusters.size()):
            walk(clusters.apply(i))

    walk(graph.rootCluster())
    parents: dict[int, list[str]] = {}
    edges = graph.edges()
    for i in range(edges.size()):
        edge = edges.apply(i)
        parents.setdefault(edge.toId(), []).append(names.get(edge.fromId(), ""))
    return sum(
        name == "PythonRDD"
        and not any(p.endswith("CheckpointRDD") for p in parents.get(rdd_id, []))
        for rdd_id, name in names.items()
    )


def _assert_one_python_pass(spark, group: str) -> None:
    """Every stage of every round of ``group`` runs exactly one Python
    function per task: the first round's kernel makes the initial
    blocks itself, and the kernel reads the halo shuffle's output
    directly, without a map pass of its own in front."""
    tracker = spark.sparkContext.statusTracker()
    passes = [
        [_python_passes(spark, s) for s in sorted(tracker.getJobInfo(job_id).stageIds)]
        for job_id in sorted(tracker.getJobIdsForGroup(group))
    ]
    assert all(set(job) == {1} for job in passes), passes


def test_one_block_job_and_task_budget(spark, monkeypatch):
    """One block (the default sizing below N=256 at k=32): each chunk
    is ONE job of one stage of one task — the narrow kernel pass, whose
    JVM-side count fills the chunk's cut and whose accumulator brings
    back the per-sweep maxima — and the mid-chunk convergence redo is
    one more job of the same shape. No cut or collect job runs, and
    the initial grid runs none of its own."""
    r, jobs = _solve_traced(spark, monkeypatch, "laplace-budget-1", 16, sweeps_per_job=8)
    assert r.num_iterations == 132
    chunks = -(-132 // 8)  # 132 = 16·8 + 4: the last chunk converges mid-way
    assert len(jobs) == chunks + 1, jobs
    assert all(name.startswith("count at ") for name, _ in jobs), jobs
    assert all([tasks for _, tasks in stages] == [1] for _, stages in jobs), jobs
    _assert_rounds_read_cuts(spark, "laplace-budget-1")
    _assert_one_python_pass(spark, "laplace-budget-1")


def test_multi_block_one_task_per_block(spark, monkeypatch):
    """Fewer blocks than shuffle partitions (3 at 4), and more (5 at
    4): each chunk is ONE job of two stages — the halo slices' shuffle
    map over the nb blocks, then one kernel task per block, block b in
    partition b, none empty — and so is the mid-chunk convergence redo
    (both cases converge mid-chunk)."""
    for n, num_blocks, k, iterations in [(16, 3, 8, 132), (20, 5, 16, 183)]:
        group = f"laplace-budget-{num_blocks}"
        with session_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            r, jobs = _solve_traced(
                spark, monkeypatch, group, n, num_blocks=num_blocks, sweeps_per_job=k,
            )
        assert r.num_iterations == iterations
        chunks = -(-iterations // k)
        assert iterations % k and len(jobs) == chunks + 1, jobs
        assert all(name.startswith("count at ") for name, _ in jobs), jobs
        assert all(
            [tasks for _, tasks in stages] == [num_blocks, num_blocks] for _, stages in jobs
        ), jobs
        _assert_rounds_read_cuts(spark, group)
        _assert_one_python_pass(spark, group)
        # block b's owned rows come out of partition b
        rows_per_block = -(-n // num_blocks)
        placed = r.grid.select(F.spark_partition_id().alias("p"), "i").distinct().collect()
        assert {(row["p"], row["i"] // rows_per_block) for row in placed} == {
            (b, b) for b in range(num_blocks)
        }


def test_default_block_count_follows_default_parallelism(spark):
    """The default block count is capped by ``sc.defaultParallelism``,
    the slots Spark schedules on, not by the
    ``spark.default.parallelism`` conf, which an untuned session leaves
    unset. Here the conf reads three more than the slots, and
    n = 8·slots at k = 1 would allow 2·slots blocks."""
    slots = spark.sparkContext.defaultParallelism
    with session_conf(spark, {"spark.default.parallelism": str(slots + 3)}):
        r = solve_blocked(spark, 8 * slots, sweeps_per_job=1, max_iterations=1)
    assert r.num_iterations == 1
    assert r.grid.rdd.getNumPartitions() == slots
