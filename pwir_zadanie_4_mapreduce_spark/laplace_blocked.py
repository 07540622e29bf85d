"""Red-black SOR Laplace solver with temporal (deep-halo) blocking.

Bit-faithful to the reference loop (laplace-seq.c:184-209): the
same iteration count, same final max |Δ|, the same doubles in every
cell. Its parameters, result type, checkpoint ledger and sinks live in
:mod:`.laplace`. A red-black sweep needs a halo exchange after each of
its two color phases (laplace-par.c:120-129); on Spark each exchange
is a shuffle and a stage, with a fixed scheduling cost whatever the
grid size. This module applies the standard HPC *ghost-zone / temporal
blocking* optimization to the Spark execution model:

- the grid state is ROW-oriented: one DataFrame row per grid row
  ``(i, vals: array<double>[N])`` — a 1-D row-block decomposition,
  exactly the reference's scatter (laplace-par.c:245-251), with the
  row as the unit of exchange;
- a *chunk* of ``k`` sweeps ships each block its rows plus a
  ``2k``-row halo on each side (one red-black sweep has data
  dependency radius 2: phase 1 reads phase 0's values one row away,
  which read rows two away), via a single explode → hash shuffle into
  exactly ``nb`` partitions on a remapped key precomputed so each
  block lands in its own partition — one Python task per block, none
  empty. With one block there is no halo to ship and no shuffle: the
  chunk is a narrow map over the one-partition grid;
- each block then runs all ``k`` sweeps locally in vectorized numpy
  inside ``mapInArrow`` — zero communication for k sweeps. Halo
  rows go stale one dependency-radius per sweep, but the owned rows
  sit ``>= 2k`` rows from any missing edge, so after k sweeps every
  owned row is *exactly* the value the sequential program computes;
- per-sweep global max-|Δ| (the MPI_Allreduce(MAX) analog,
  laplace-par.c:504) falls out for free: each phase updates a
  disjoint color set, owned cells are valid at every intermediate
  sweep, so the block-local owned-row maxima reduce to the exact
  global maximum with one tiny collect per chunk. The chunk's
  lineage cut is lazy and that collect, which reads every partition,
  fills it — so a chunk is ONE job (plus the shuffle-map job of the
  halo exchange when ``nb > 1``), not a cut job and then a collect.

Communication drops from ``2·iters`` exchanges (one per color phase)
to ``iters/k`` — with the fan-out factor ``1 + 4k/rows_per_block`` as
the classic ghost-zone trade: redundant halo compute for k× fewer
synchronizations. At 100 TB scale (N ~ 10^5+) blocks hold thousands
of rows, so a k of 32-64 costs <10% redundancy; the knobs are explicit
parameters.

Bit-exactness argument (checked by the golden tests and by bit-equality
with a scalar transliteration of the C loop): within one phase
the C loop updates only cells of one color in place and reads only the
opposite color (laplace-seq.c:190-199), so the phase is
order-independent and elementwise numpy evaluation with the same
association — ``((up + down) + left) + right``, ``/ 4.0``, then
``(1-ω)·v + ω·tmp`` — produces bit-identical doubles.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .laplace import (
    LaplaceResult,
    checkpoint_tracked,
    get_epsilon,
    get_omega,
    release_checkpoints,
)


def make_grid_rows(spark: SparkSession, n: int, num_partitions: int) -> DataFrame:
    """O1 generate source, row-oriented: ``(i, vals[N])`` per grid row
    with the Dirichlet boundaries of laplace-common-impl.h:11-33 (the
    when-chain keeps the C else-if precedence: corners take the row
    value). ``spark.range`` splits the rows into ``num_partitions``
    contiguous slices — a 1-D row-block decomposition with no
    exchange."""
    return spark.range(0, n, 1, num_partitions).select(
        F.col("id").cast("int").alias("i"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)), lambda jj: cell_expr(jj, n)
        ).alias("vals"),
    )


def cell_expr(j, n: int):
    """getInitialValue as a column expression over (i, j)."""
    return (
        F.when(F.col("i") == 0, F.lit(4.56))
        .when(F.col("i") == n - 1, F.lit(9.85))
        .when(j == 0, F.lit(7.32))
        .when(j == n - 1, F.lit(6.88))
        .otherwise(F.lit(0.0))
        .cast("double")
    )


def _sweeps_factory():
    """Factory wrapper so the sweep function cloudpickles BY VALUE
    (its qualname is under ``<locals>`` and cannot be resolved by
    reference): Python workers of a driver-built session created from
    an arbitrary cwd cannot import this package — the repo-wide worker
    -closure convention (multimodal.py:52)."""

    def run_strided(arr, i0, n, omega, k, own_lo, own_hi):
        """Strided-view sweep path (any n, incl. odd): four
        (row-parity × color) step-2 views per sweep. Kept as the
        generic fallback; the even-n plane path below is the fast one
        (bit-identical — same operands, same op order)."""
        import numpy as np

        L = arr.shape[0]
        # locally-updatable rows: have both neighbors in arr AND are global interior
        rlo = max(1, 1 - i0)  # local index of first updatable row
        rhi = min(L - 1, (n - 1) - i0)  # one past last updatable row
        diffs: list[float] = []
        if rlo >= rhi or n <= 2:
            return [0.0] * k
        o_lo = max(own_lo - i0, rlo)  # owned ∩ updatable, local indices
        o_hi = min(own_hi - i0, rhi)
        # Strided half-lattice sub-problems: for phase `color`, rows of
        # global parity p update columns j ≡ (color - p) mod 2 — four
        # (row-parity × color) strided views per sweep touch exactly the
        # N²/2 cells the C loop touches (laplace-seq.c:193), no masking.
        subsets = []
        for color in (0, 1):
            per_color = []
            for p in (0, 1):
                r0 = rlo + ((p - (i0 + rlo)) % 2)
                if r0 >= rhi:
                    continue
                j0 = 1 if (p + 1) % 2 == color else 2
                if j0 >= n - 1:
                    continue
                rows = slice(r0, rhi, 2)
                rs = np.arange(r0, rhi, 2)
                own_rows = (rs >= o_lo) & (rs < o_hi)
                per_color.append((rows, j0, own_rows))
            subsets.append(per_color)
        for _ in range(k):
            sweep_max = 0.0
            for per_color in subsets:
                for rows, j0, own_rows in per_color:
                    cur = arr[rows, j0 : n - 1 : 2]
                    up = arr[rows.start - 1 : rows.stop - 1 : 2, j0 : n - 1 : 2]
                    down = arr[rows.start + 1 : rows.stop + 1 : 2, j0 : n - 1 : 2]
                    left = arr[rows, j0 - 1 : n - 2 : 2]
                    right = arr[rows, j0 + 1 : n : 2]
                    # ((up + down) + left) + right, / 4.0 — laplace-seq.c:196
                    tmp = up + down
                    tmp += left
                    tmp += right
                    tmp /= 4.0
                    # (1 - ω)·v + ω·tmp — laplace-seq.c:198
                    new = (1.0 - omega) * cur + omega * tmp
                    if own_rows.any():
                        d = np.abs(cur[own_rows] - new[own_rows])
                        if d.size:
                            phase_max = float(d.max())
                            if phase_max > sweep_max:
                                sweep_max = phase_max
                    arr[rows, j0 : n - 1 : 2] = new
            diffs.append(sweep_max)
        return diffs

    def run_planes(arr, i0, n, omega, k, own_lo, own_hi):
        """Checkerboard-compact sweep path for EVEN n: the four
        (color × row-parity) half-lattices are gathered into four
        fully-dense planes (contiguous in both dims), so every stencil
        term is a contiguous slice and the hot loop runs numpy at
        streaming speed with preallocated buffers — measured 1.43×
        over the strided views at N=8192 block shape. Same float64
        operands combined in the same order (((up+down)+left)+right)/4,
        then (1-ω)v + ωtmp — so grids and per-sweep diffs are
        BIT-IDENTICAL to the strided path (asserted for both paths by
        the golden and chunking-invariance tests)."""
        import numpy as np

        L = arr.shape[0]
        rlo = max(1, 1 - i0)
        rhi = min(L - 1, (n - 1) - i0)
        if rlo >= rhi or n <= 2:
            return [0.0] * k
        o_lo = max(own_lo - i0, rlo)
        o_hi = min(own_hi - i0, rhi)
        h = n // 2
        start = [(0 - i0) % 2, (1 - i0) % 2]  # first local row of parity p
        # planes[c][p][q, m] = arr[start[p] + 2q, 2m + ((c + p) % 2)]
        planes = [[None, None], [None, None]]
        for c in (0, 1):
            for p in (0, 1):
                rows = slice(start[p], L, 2)
                planes[c][p] = np.ascontiguousarray(arr[rows, ((c + p) % 2)::2])
        tasks = []
        for c in (0, 1):
            for p in (0, 1):
                r0 = rlo + ((p - (i0 + rlo)) % 2)
                if r0 >= rhi:
                    continue
                j_par = (c + p) % 2
                ms = slice(1, h) if j_par == 0 else slice(0, h - 1)
                if ms.start >= ms.stop:
                    continue
                width = ms.stop - ms.start
                rcount = len(range(r0, rhi, 2))
                q0 = (r0 - start[p]) // 2
                u0 = (r0 - 1 - start[1 - p]) // 2
                rs = np.arange(r0, rhi, 2)
                own_rows = (rs >= o_lo) & (rs < o_hi)
                tasks.append(
                    (
                        c,
                        p,
                        slice(q0, q0 + rcount),  # target/LR rows
                        slice(u0, u0 + rcount),  # up rows
                        slice(u0 + 1, u0 + 1 + rcount),  # down rows
                        ms,
                        slice(ms.start - 1 + j_par, ms.stop - 1 + j_par),  # left
                        slice(ms.start + j_par, ms.stop + j_par),  # right
                        own_rows,
                        np.empty((rcount, width)),  # tmp buffer
                        np.empty((rcount, width)),  # new buffer
                    )
                )
        diffs: list[float] = []
        for _ in range(k):
            sweep_max = 0.0
            for c, p, qs, us, ds, ms, lf, rt, own_rows, tmp, new in tasks:
                tgt = planes[c][p]
                src_ud = planes[1 - c][1 - p]
                src_lr = planes[1 - c][p]
                cur = tgt[qs, ms]
                # ((up + down) + left) + right, / 4.0 — laplace-seq.c:196
                np.add(src_ud[us, ms], src_ud[ds, ms], out=tmp)
                tmp += src_lr[qs, lf]
                tmp += src_lr[qs, rt]
                tmp /= 4.0
                # (1 - ω)·v + ω·tmp — laplace-seq.c:198
                np.multiply(cur, (1.0 - omega), out=new)
                np.multiply(tmp, omega, out=tmp)
                new += tmp
                if own_rows.any():
                    d = cur[own_rows] - new[own_rows]
                    np.abs(d, out=d)
                    if d.size:
                        phase_max = float(d.max())
                        if phase_max > sweep_max:
                            sweep_max = phase_max
                tgt[qs, ms] = new
            diffs.append(sweep_max)
        # scatter the planes back into row-major layout
        for c in (0, 1):
            for p in (0, 1):
                rows = slice(start[p], L, 2)
                arr[rows, ((c + p) % 2)::2] = planes[c][p]
        return diffs

    def run_local_sweeps(arr, i0, n, omega, k, own_lo, own_hi):
        """Run ``k`` red-black SOR sweeps in place over ``arr`` (local
        rows ``[i0, i0+L)`` × all N columns); return per-sweep max |Δ|
        over the owned rows ``[own_lo, own_hi)``.

        Local edge rows (missing a neighbor) are never written;
        staleness propagates inward at the dependency radius (2 rows
        per sweep) and never reaches the owned region within k sweeps
        — see module docstring. Dispatches to the dense-plane path for
        even n (the only shapes the plane gather/scatter handles),
        strided views otherwise; both paths are bit-identical.
        """
        if n % 2 == 0:
            return run_planes(arr, i0, n, omega, k, own_lo, own_hi)
        return run_strided(arr, i0, n, omega, k, own_lo, own_hi)

    return run_local_sweeps


_run_local_sweeps = _sweeps_factory()


def _chunk_kernel(n: int, omega: float, k: int, rows_per_block: int):
    """Build the mapInArrow kernel for one chunk of ``k`` sweeps.

    Each task's partition holds one block (plus halo) by construction —
    a one-block grid is one partition, and otherwise the solver
    hash-repartitions into one partition per block on a remapped key
    chosen so every block's Murmur3 partition is distinct (see
    solve_blocked), unlike hash-groupBy where the birthday paradox
    routinely co-locates two blocks in one task and doubles the
    chunk's wall time (measured:
    N=2048 nb=8 on 32 shuffle partitions, 196→115 s after the fix).
    The kernel still loops over the b values it receives, so
    correctness never depends on the 1:1 placement.

    mapInArrow, not mapInPandas (round-5 rewrite): the grid dominates
    the per-chunk payload, and pandas conversion materialized every
    row's vals as a separate ndarray object (one Python object per
    grid row, then a vstack copy). Arrow hands the whole block as ONE
    flat float64 buffer — `reshape(-1, n)` is the entire decode, and
    the result ships back as one flat buffer + offsets. Same float64
    ops in the same order, so grids stay bit-identical (golden tests);
    only the serialization path changed. Measured N=2048: 115 → ~80 s.
    """

    def kernel(batches):
        import pyarrow as pa

        tables = [pa.Table.from_batches([b]) for b in batches]
        if not tables:  # hash partitioning may leave a partition empty
            return
        tbl = pa.concat_tables(tables).combine_chunks()
        if tbl.num_rows == 0:
            return
        bcol = tbl.column("b").to_numpy()
        icol = tbl.column("i").to_numpy()
        va = tbl.column("vals")
        va = va.chunk(0) if isinstance(va, pa.ChunkedArray) else va
        # every row is a full grid row of width n (no nulls), so the
        # flattened values buffer IS the row-major matrix
        mat = va.flatten().to_numpy(zero_copy_only=False).reshape(-1, n)
        for b in np.unique(bcol):
            b = int(b)
            sel = np.flatnonzero(bcol == b)
            order = np.argsort(icol[sel], kind="stable")
            sel = sel[order]
            ivals = icol[sel]
            i0 = int(ivals[0])
            arr = mat[sel]  # fancy index = writable float64 copy
            own_lo = b * rows_per_block
            own_hi = min(n, own_lo + rows_per_block)
            diffs = _run_local_sweeps(arr, i0, n, omega, k, own_lo, own_hi)
            keep = (ivals >= own_lo) & (ivals < own_hi)
            out = arr[keep]
            m = out.shape[0]
            if m == 0:
                continue
            vals_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(m + 1, dtype=np.int32) * n, type=pa.int32()),
                pa.array(out.reshape(-1), type=pa.float64()),
            )
            # per-sweep owned-row maxima ride the first owned row only
            # (null elsewhere) — one tiny array per block per chunk,
            # collected driver-side for the convergence check (the
            # Allreduce(MAX) analog, laplace-par.c:504)
            diffs_arr = pa.array(
                [[float(d) for d in diffs]] + [None] * (m - 1),
                type=pa.list_(pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ivals[keep].astype(np.int32), type=pa.int32()),
                    vals_arr,
                    diffs_arr,
                ],
                names=["i", "vals", "diffs"],
            )

    return kernel


def solve_blocked(
    spark: SparkSession,
    n: int,
    num_blocks: int | None = None,
    sweeps_per_job: int = 32,
    max_iterations: int | None = None,
) -> LaplaceResult:
    """Red-black SOR to convergence with temporal blocking.

    Defaults pick ``num_blocks`` so the halo (2k rows each side) stays
    a minority of each block's payload where the grid allows it; at
    small N this honestly collapses toward one block — the distributed
    path is exercised explicitly in tests via ``num_blocks``.

    Jobs: one eager cut of the initial grid (plus the remap's candidate
    job when there is more than one block), then per chunk the max-diff
    collect — plus the halo exchange's shuffle-map job when
    ``nb > 1`` — and one eager cut for a mid-chunk convergence redo.
    Every chunk stage runs exactly ``nb`` tasks.
    """
    if n < 2:
        raise ValueError("numPointsPerDimension must be >= 2 (laplace-seq.c:155-161)")
    omega = get_omega(n)
    epsilon = get_epsilon(n)
    k0 = sweeps_per_job
    if num_blocks is None:
        par = int(spark.conf.get("spark.default.parallelism", "8"))
        # ≥ 4k rows per block keeps halo redundancy ≤ 100%
        num_blocks = max(1, min(par, n // max(1, 4 * k0)))
    rows_per_block = -(-n // num_blocks)  # ceil
    nb = -(-n // rows_per_block)  # effective block count

    # One block per task, deterministically: hash-repartition into
    # exactly nb partitions on a remapped key chosen (once per solve,
    # one tiny job) so each block's Murmur3 partition is distinct —
    # the remap is then a permutation of the nb partitions, and every
    # chunk launches nb Python tasks, none of them empty (an empty
    # Python task still pays the worker's per-task setup, ~0.2 s on a
    # 4-core host with PySpark 4.1). groupBy/hash on b itself loses
    # the birthday lottery routinely (two blocks in one task = 2×
    # chunk wall time, measured at N=2048 nb=8); repartitionByRange
    # fixes placement but adds a boundary-sampling job per chunk and
    # still co-located blocks at small nb. With one block the chunk
    # needs no exchange at all (see run_chunk).
    remap = {b: b for b in range(nb)}
    if nb > 1:
        # Lazily widen the candidate pool: 64 keys per block usually
        # suffice, but if every candidate's Murmur3 partition is taken
        # we fetch the next 64·nb keys (some partition is always free
        # while a block is unplaced; only the candidate-key supply is
        # finite) instead of silently co-locating two blocks — the 2×
        # chunk-wall-time failure the remap exists to prevent.
        part_of: dict[int, int] = {}

        def fetch_candidates(lo: int, hi: int) -> None:
            rows = spark.range(lo, hi).select(
                F.col("id").cast("int").alias("c"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(nb)).alias("p"),
            ).collect()
            part_of.update({row["c"]: row["p"] for row in rows})

        fetch_candidates(0, nb * 64)
        t_max = 64
        used: set[int] = set()
        for b in range(nb):
            placed = False
            t = 0
            while not placed:
                while t < t_max:
                    c = b + t * nb
                    if part_of[c] not in used:
                        remap[b] = c
                        used.add(part_of[c])
                        placed = True
                        break
                    t += 1
                if not placed:
                    if t_max >= 4096:
                        break
                    fetch_candidates(nb * t_max, nb * t_max * 2)
                    t_max *= 2
            # the last block hits its one free partition with
            # probability 1/nb per try: 4096 tries leave a miss
            # chance of (1 - 1/nb)^4096, below 1e-17 up to nb = 100
            if not placed:
                import logging

                logging.getLogger(__name__).warning(
                    "block %d: no collision-free partition among %d "
                    "candidate keys; sharing a task with another block "
                    "(chunk wall time may double)", b, t_max,
                )
                used.add(part_of[b])
    remap_expr = F.col("b")
    for b, c in remap.items():
        if c != b:
            remap_expr = F.when(F.col("b") == b, F.lit(c)).otherwise(remap_expr)

    def fan_out(rows: DataFrame, k: int) -> DataFrame:
        halo = 2 * k
        i = F.col("i")
        first = F.greatest(F.lit(0), F.floor((i - halo) / rows_per_block))
        last = F.least(F.lit(nb - 1), F.floor((i + halo) / rows_per_block))
        return rows.select(
            F.explode(F.sequence(first, last)).alias("b"), "i", "vals"
        ).withColumn("b", F.col("b").cast("int"))

    def run_chunk(rows: DataFrame, k: int) -> DataFrame:
        schema = "i int, vals array<double>, diffs array<double>"
        blocks = fan_out(rows, k)
        if nb > 1:
            blocks = blocks.withColumn("pk", remap_expr.cast("int")).repartition(nb, "pk")
        # else: the fan-out is the identity (b = 0 for every row) and
        # the grid is already one partition — a narrow map, no exchange
        return blocks.mapInArrow(_chunk_kernel(n, omega, k, rows_per_block), schema=schema)

    chunk_start, cur_ids = checkpoint_tracked(make_grid_rows(spark, n, nb))
    num_iterations = 0
    final_diff = float("inf")
    breakdown_s = 0.0
    t0 = time.monotonic()
    done = False
    while not done:
        k = k0
        if max_iterations is not None:
            k = min(k, max_iterations - num_iterations)
            if k <= 0:
                break
        # lazy cut: the max-diff collect below reads every partition of
        # the cut, so it computes the chunk and fills its blocks in the
        # same job — no separate count job. chunk_start must stay
        # stored until that collect has run.
        chunk_end, end_ids = checkpoint_tracked(run_chunk(chunk_start, k), eager=False)
        tr = time.monotonic()
        per_block = chunk_end.where(F.col("diffs").isNotNull()).select("diffs").collect()
        maxes = [max(row["diffs"][s] for row in per_block) for s in range(k)]
        breakdown_s += time.monotonic() - tr
        converged_at = next((s for s in range(k) if maxes[s] <= epsilon), None)
        if converged_at is None or converged_at == k - 1:
            chunk_start = chunk_end.drop("diffs")
            release_checkpoints(spark, cur_ids)  # prev chunk's grid
            cur_ids = end_ids
            num_iterations += k
            final_diff = maxes[k - 1]
            done = converged_at is not None
        else:
            # converged mid-chunk: redo exactly converged_at+1 sweeps
            # from the chunk start (still materialized) so the final
            # grid state matches the reference's stop-after-converged-
            # sweep semantics bit-for-bit
            redo = converged_at + 1
            chunk_start, redo_ids = checkpoint_tracked(
                run_chunk(chunk_start, redo).drop("diffs")
            )
            release_checkpoints(spark, cur_ids | end_ids)
            cur_ids = redo_ids
            num_iterations += redo
            final_diff = maxes[converged_at]
            done = True
    duration = time.monotonic() - t0
    grid = chunk_start.select(
        "i", F.posexplode("vals").alias("j", "v")
    ).select(F.col("i"), F.col("j").cast("int").alias("j"), "v")
    return LaplaceResult(grid, num_iterations, final_diff, omega, epsilon, duration, breakdown_s)
