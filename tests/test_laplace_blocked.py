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
from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark import laplace
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked
from pwir_zadanie_4_mapreduce_spark.session import pinned_rdds

from tests.conftest import session_conf, traced_jobs
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


def test_blocked_storage_stays_bounded(spark):
    """Round-4 advice: the chunk loop must release the previous
    chunk's localCheckpoint — small k at N=16 runs many chunks, each
    materializing a grid; only the final one may remain persisted."""
    before = set(pinned_rdds(spark))
    r = solve_blocked(spark, 16, sweeps_per_job=8)
    leaked = set(pinned_rdds(spark)) - before
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
    """The chunk's lazy lineage cut is filled by the max-diff collect.
    In reliable mode a lazy ``checkpoint()`` writes its files in a
    second job after that collect, recomputing the chunk; grids,
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
    assert all(tasks == 1 for _, stages in jobs for _, tasks in stages), jobs


def test_multi_block_one_task_per_block(spark, monkeypatch):
    """Fewer blocks than shuffle partitions (3 at 4), and more (5 at
    4): the halo exchange sends block b to partition b of exactly nb,
    so each chunk's mapInArrow stage — the result stage of its max-diff
    collect — runs one task per block, each on its own block, and no
    empty Python task.

    The solve's jobs, in order: the initial cut; per chunk the
    exchange's shuffle-map job and the collect; on a mid-chunk
    convergence (both cases here) the redo's shuffle-map job and cut.
    Nothing runs before the initial cut."""
    for n, num_blocks, k, iterations in [(16, 3, 8, 132), (20, 5, 16, 183)]:
        with session_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            r, jobs = _solve_traced(
                spark, monkeypatch, f"laplace-budget-{num_blocks}", n,
                num_blocks=num_blocks, sweeps_per_job=k,
            )
        assert r.num_iterations == iterations
        chunks = -(-iterations // k)
        kinds = [
            "cut" if name.startswith("localCheckpoint at ")
            else "collect" if name.startswith("collect at ")
            else "map"
            for name, _ in jobs
        ]
        redo = ["map", "cut"] if iterations % k else []
        assert kinds == ["cut"] + ["map", "collect"] * chunks + redo, jobs
        chunk_stages = [st[-1] for (_, st), kind in zip(jobs, kinds) if kind == "collect"]
        assert all(tasks == num_blocks for _, tasks in chunk_stages), chunk_stages
        # block b's owned rows come out of partition b
        rows_per_block = -(-n // num_blocks)
        placed = r.grid.select(F.spark_partition_id().alias("p"), "i").distinct().collect()
        assert {(row["p"], row["i"] // rows_per_block) for row in placed} == {
            (b, b) for b in range(num_blocks)
        }
