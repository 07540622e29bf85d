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

from pwir_zadanie_4_mapreduce_spark import laplace
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

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
    """Odd n exercises the strided fallback path of the sweep kernel
    (the dense-plane fast path requires even n): capped after two
    3-sweep chunks over two blocks, and to convergence at the default
    sizing."""
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


def test_blocked_storage_stays_bounded(spark):
    """Round-4 advice: the chunk loop must release the previous
    chunk's localCheckpoint — small k at N=16 runs many chunks, each
    materializing a grid; only the final one may remain persisted."""
    before = laplace._persisted_rdd_ids(spark.sparkContext)
    r = solve_blocked(spark, 16, sweeps_per_job=8)
    after = laplace._persisted_rdd_ids(spark.sparkContext)
    leaked = after - before
    assert len(leaked) <= 2, f"chunk checkpoints leaked: {sorted(leaked)}"
    assert r.num_iterations == 132


def test_max_iterations_cap(spark):
    r = solve_blocked(spark, 16, sweeps_per_job=8, max_iterations=20)
    assert r.num_iterations == 20
    assert r.final_diff > r.epsilon


def test_chunking_invariance_bit_exact(spark):
    """The chunk size and block count are pure execution knobs: any
    (num_blocks, sweeps_per_job) combination must produce bit-identical
    grids and identical iteration counts — this sweeps the mid-chunk
    convergence recompute, the chunk-boundary branch, k=1 (degenerate
    one-sweep chunks), and halo-wider-than-block placements in one
    invariant."""
    n = 12
    base = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=64)
    base_grid = laplace.format_grid(base, n)
    for nb, k in [(1, 1), (3, 5), (4, 7), (2, 64)]:
        r = solve_blocked(spark, n, num_blocks=nb, sweeps_per_job=k)
        assert r.num_iterations == base.num_iterations, (nb, k)
        assert laplace.format_grid(r, n) == base_grid, (nb, k)


def test_chunking_invariance_reliable_checkpoints(spark, monkeypatch):
    """The chunk's lazy lineage cut is filled by the max-diff collect.
    In reliable mode a lazy ``checkpoint()`` writes its files in a
    second job after that collect, recomputing the chunk; grids,
    iteration counts and final diffs must still match the
    local-checkpoint run bit for bit — k=1 chunks, a chunk-boundary
    convergence and a mid-chunk convergence redo included."""
    n = 12
    base = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=64)
    base_grid = laplace.format_grid(base, n)
    # convergence lands mid-chunk for k=5 and k=64, on a chunk end for k=1
    assert base.num_iterations % 5 != 0 and base.num_iterations % 64 != 0
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    for nb, k in [(1, 1), (3, 5), (2, 64)]:
        r = solve_blocked(spark, n, num_blocks=nb, sweeps_per_job=k)
        assert r.num_iterations == base.num_iterations, (nb, k)
        assert r.final_diff == base.final_diff, (nb, k)
        assert laplace.format_grid(r, n) == base_grid, (nb, k)


def _solve_traced(spark, monkeypatch, group: str, n: int, **kw):
    """Run ``solve_blocked`` with local checkpoints under its own job
    group; return the result and, per job in submission order, the
    (name, task count) of each stage it ran. A skipped stage (its
    shuffle output was reused) completes no tasks and is left out; it
    is also the first kind of stage the status store evicts."""
    # reliable checkpoints add one file-writing job per cut
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        r = solve_blocked(spark, n, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is filled by a listener on Spark's event bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in sorted(tracker.getJobInfo(job_id).stageIds)]
        jobs.append([(s.name, s.numTasks) for s in stages if s and s.numCompletedTasks > 0])
    return r, jobs


def test_one_block_job_and_task_budget(spark, monkeypatch):
    """One block (the default sizing below N=256 at k=32): each chunk
    is ONE job — a narrow mapInArrow over the one-partition grid,
    whose lazy cut the max-diff collect fills — and every stage runs
    one task; no exchange anywhere. Besides the chunks, only the
    initial cut and the mid-chunk redo cut run jobs."""
    r, jobs = _solve_traced(spark, monkeypatch, "laplace-budget-1", 16, sweeps_per_job=8)
    assert r.num_iterations == 132
    chunks = -(-132 // 8)
    assert len(jobs) <= chunks + 3, jobs
    assert all(tasks == 1 for job in jobs for _, tasks in job), jobs


def test_multi_block_one_task_per_block(spark, monkeypatch):
    """Three blocks: the halo exchange targets exactly 3 partitions, so
    each chunk's mapInArrow stage — the result stage of its max-diff
    collect — runs one task per block and no empty Python task. The
    session's shuffle.partitions (not 3) would otherwise set the width."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != 3
    r, jobs = _solve_traced(
        spark, monkeypatch, "laplace-budget-3", 16, num_blocks=3, sweeps_per_job=8
    )
    assert r.num_iterations == 132
    chunks = -(-132 // 8)
    # the first job looks up the remap candidates' Murmur3 partitions
    chunk_stages = [job[-1] for job in jobs[1:] if job[-1][0].startswith("collect at ")]
    assert len(chunk_stages) == chunks, jobs
    assert all(tasks == 3 for _, tasks in chunk_stages), chunk_stages
