"""Red-black SOR Laplace solver with temporal (deep-halo) blocking.

Bit-faithful to the reference loop (laplace-seq.c:184-209): the
same iteration count, same final max |Δ|, the same doubles in every
cell. Its parameters, result type and sinks live in :mod:`.laplace`.
A red-black sweep needs a halo exchange after each of its two color
phases (laplace-par.c:120-129); on Spark each exchange is a shuffle
and a stage, with a fixed scheduling cost whatever the grid size.
This module applies the standard HPC *ghost-zone / temporal blocking*
optimization to the Spark execution model:

- the grid state is an RDD of row BLOCKS, one element
  ``(b, (i0, rows))`` per block: block ``b`` owns the grid rows
  ``[i0, i0 + len(rows))``, held as one float64 ndarray in partition
  ``b`` — a 1-D row-block decomposition, exactly the reference's
  scatter (laplace-par.c:245-251). The grid a solve starts from is
  ``(b, None)`` per block: numpy makes the initial blocks
  (getInitialValue, laplace-common-impl.h:11-33) inside the first
  round's tasks, in the function the task runs anyway, so the initial
  grid runs no job and no Python pass of its own;
- a *chunk* of ``k`` sweeps (one round) ships each block its rows plus
  a ``2k``-row halo on each side (one red-black sweep has data
  dependency radius 2: phase 1 reads phase 0's values one row away,
  which read rows two away): a ``flatMap`` cuts each block into the
  row slices its neighbors need and ``partitionBy(nb, b ↦ b)`` sends
  block ``b``'s slices to partition ``b`` (the rank-addressed
  scatter, laplace-par.c:307-337) — one Python task per block, none
  empty, which reads the shuffle's ``(b, (i0, rows))`` pieces as they
  come. With one block there is no halo to ship and no shuffle: the
  round is one narrow Python pass over the previous grid;
- each block then runs all ``k`` sweeps locally in vectorized numpy
  (one dense-plane kernel for every N, odd or even) — zero
  communication for k sweeps. Halo rows go stale one
  dependency-radius per sweep, but the owned rows sit ``>= 2k`` rows
  from any missing edge, so after k sweeps every owned row is
  *exactly* the value the sequential program computes;
- per-sweep global max-|Δ| (the MPI_Allreduce(MAX) analog,
  laplace-par.c:504): each phase updates a disjoint color set and
  owned cells are valid at every intermediate sweep, so the
  block-local owned-row maxima reduce to the exact global maximum.
  They reach the driver through an accumulator whose merge is
  elementwise max — order-free and idempotent, so a recomputed
  partition cannot change the result — one per chunk size, reset
  before each round;
- the round's output is cut (``functions.lineage.cut_rdd``) and the
  round's only action is a JVM-side count over that cut: it computes
  the round, fills the cut and delivers the maxima, so a round is ONE
  job (one stage, two with the halo shuffle). A round's fixed cost is
  what the driver and the JVM do around that job, so a solve pickles
  the kernel into a JVM ``PythonFunction`` once per chunk size, and
  each round only puts a ``PythonRDD`` over it and the previous cut
  and submits the count asynchronously (``run_chunk`` names the
  Spark-internal calls and why). The round's output is a plain
  ``RDD`` over that ``PythonRDD``, so PySpark cannot pipeline this
  round's kernel into the next one's task.

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

Every function a task runs is built inside a function (``<locals>``
qualname), so cloudpickle ships it by value: Python workers of a
driver-built session created from an arbitrary cwd cannot import this
package — the repo-wide worker-closure convention (multimodal.py:52).
"""

from __future__ import annotations

import time

from pyspark import RDD
from pyspark.core.rdd import _wrap_function
from pyspark.serializers import AutoBatchedSerializer
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .functions.lineage import cut_rdd, release_cut
from .laplace import LaplaceResult, get_epsilon, get_omega


def _sweeps_factory():
    """The sweep kernel, built here so it pickles by value (see the
    module docstring)."""

    def run_local_sweeps(arr, i0, n, omega, k, own_lo, own_hi):
        """Run ``k`` red-black SOR sweeps in place over ``arr`` (local
        rows ``[i0, i0+L)`` × all N columns); return per-sweep max |Δ|
        over the owned rows ``[own_lo, own_hi)``.

        Local edge rows (missing a neighbor) are never written;
        staleness propagates inward at the dependency radius (2 rows
        per sweep) and never reaches the owned region within k sweeps
        — see module docstring.

        Checkerboard-compact layout: the four (color × row-parity)
        half-lattices are gathered into four fully-dense planes
        (contiguous in both dims), so every stencil term is a
        contiguous slice and the hot loop runs numpy at streaming
        speed with preallocated buffers — measured 1.43× over strided
        step-2 views at N=8192 block shape. For odd n the two column
        parities hold (n+1)/2 and (n-1)/2 columns; the interior column
        bounds below cover both. Same float64 operands combined in the
        same order as the C loop, (((up+down)+left)+right)/4, then
        (1-ω)v + ωtmp, so grids and per-sweep diffs are bit-identical
        to it (the golden and scalar-reference tests).
        """
        import numpy as np

        L = arr.shape[0]
        rlo = max(1, 1 - i0)
        rhi = min(L - 1, (n - 1) - i0)
        if rlo >= rhi or n <= 2:
            return [0.0] * k
        o_lo = max(own_lo - i0, rlo)
        o_hi = min(own_hi - i0, rhi)
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
                # interior columns: 1 <= 2m + j_par <= n - 2
                ms = slice(1, n // 2) if j_par == 0 else slice(0, (n - 1) // 2)
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

    return run_local_sweeps


_run_local_sweeps = _sweeps_factory()


def _max_merge_factory():
    """The accumulator param of the per-sweep maxima, built here so it
    pickles by value (see the module docstring)."""
    from pyspark.accumulators import AccumulatorParam

    class ElementwiseMax(AccumulatorParam):
        """Per-sweep maxima merged elementwise: -inf is the identity,
        and max is commutative, associative and idempotent, so any
        merge order, and a partition counted twice, give the same
        vector."""

        def zero(self, value):
            return (float("-inf"),) * len(value)

        def addInPlace(self, a, b):
            return tuple(max(x, y) for x, y in zip(a, b))

    return ElementwiseMax


ElementwiseMax = _max_merge_factory()


def _init_block(n: int, rows_per_block: int):
    """Block ``b`` of the initial grid: getInitialValue over its rows
    (laplace-common-impl.h:11-33; the rows are written last, so the
    corners take the row value, as in the C else-if chain)."""

    def init(b):
        import numpy as np

        lo = b * rows_per_block
        hi = min(n, lo + rows_per_block)
        rows = np.zeros((hi - lo, n))
        rows[:, 0] = 7.32
        rows[:, n - 1] = 6.88
        if lo == 0:
            rows[0, :] = 4.56
        if hi == n:
            rows[-1, :] = 9.85
        return b, lo, rows

    return init


def _block_rows(n: int, rows_per_block: int):
    """``rows(b, piece)``: the ``(i0, rows)`` of a grid element
    ``(b, piece)``. The first round reads ``(b, None)``, which stands
    for block ``b``'s initial rows, made here inside the task."""
    init = _init_block(n, rows_per_block)

    def rows(b, piece):
        if piece is None:
            _, lo, initial = init(b)
            return lo, initial
        return piece

    return rows


def _halo_slices(n: int, rows_per_block: int, nb: int, k: int):
    """The row slices of one block that each block ``t`` needs for a
    chunk of ``k`` sweeps: its owned rows plus ``2k`` on each side,
    keyed by ``t``."""
    halo = 2 * k
    block_rows = _block_rows(n, rows_per_block)

    def ship(block):
        b, piece = block
        i0, rows = block_rows(b, piece)
        end = i0 + rows.shape[0]
        first = max(0, (i0 - halo) // rows_per_block)
        last = min(nb - 1, (end - 1 + halo) // rows_per_block)
        for t in range(first, last + 1):
            lo = max(i0, t * rows_per_block - halo)
            hi = min(end, (t + 1) * rows_per_block + halo)
            if lo < hi:
                yield t, (lo, rows[lo - i0 : hi - i0])

    return ship


def _chunk_kernel(n: int, omega: float, k: int, rows_per_block: int, maxima):
    """One chunk of ``k`` sweeps over the pieces ``(b, (i0, rows))`` of
    a partition: each block's pieces are stacked in row order, swept,
    and its owned rows come out as the new block ``(b, (i0, rows))``;
    the per-sweep owned-row maxima go into ``maxima``. The function
    takes ``(partition index, pieces)``, the signature of the JVM
    ``PythonFunction`` it is wrapped into. One partition holds one
    block by construction (see solve_blocked), but the kernel groups
    by ``b``, so correctness never depends on that placement."""
    block_rows = _block_rows(n, rows_per_block)

    def kernel(_split, pieces):
        import numpy as np

        by_block: dict = {}
        for b, piece in pieces:
            by_block.setdefault(b, []).append(block_rows(b, piece))
        for b, parts in by_block.items():
            parts.sort(key=lambda part: part[0])
            i0 = parts[0][0]
            arr = np.concatenate([rows for _, rows in parts])  # a writable copy
            own_lo = b * rows_per_block
            own_hi = min(n, own_lo + rows_per_block)
            maxima.add(tuple(_run_local_sweeps(arr, i0, n, omega, k, own_lo, own_hi)))
            yield b, (own_lo, arr[own_lo - i0 : own_hi - i0])

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
    a minority of each block's payload where the grid allows it, and
    at most ``sc.defaultParallelism`` blocks; at small N this honestly
    collapses toward one block — the distributed path is exercised
    explicitly in tests via ``num_blocks``.

    Jobs: one per chunk — one stage of one task with one block, else
    the halo shuffle's map stage and ``nb`` result tasks — and one more
    for a mid-chunk convergence redo. Each task of a round runs one
    Python function, the first round's included: the kernel makes the
    initial blocks itself, and reads the halo shuffle's output as it
    comes. The initial grid and the result DataFrame run no job. With
    reliable checkpoints, each of these jobs is followed by the one
    that writes its checkpoint files. The kernel is pickled and wrapped
    for the JVM once per distinct chunk size in a solve (the chunk size
    and, usually, the redo's), not once per round. The final grid is in
    block storage when this returns.
    """
    if n < 2:
        raise ValueError("numPointsPerDimension must be >= 2 (laplace-seq.c:155-161)")
    sc = spark.sparkContext
    omega = get_omega(n)
    epsilon = get_epsilon(n)
    k0 = sweeps_per_job
    if num_blocks is None:
        # ≥ 4k rows per block keeps halo redundancy ≤ 100%
        num_blocks = max(1, min(sc.defaultParallelism, n // max(1, 4 * k0)))
    rows_per_block = -(-n // num_blocks)  # ceil
    nb = -(-n // rows_per_block)  # effective block count
    # The kernel reads parallelize's slices, partitionBy's output or its
    # own earlier output, and all three are batches pickled with the
    # context's serializer, so one serializer reads and writes them all.
    stream = AutoBatchedSerializer(sc._unbatched_serializer)
    kernels: dict[int, tuple] = {}  # k -> (JVM PythonFunction, its maxima accumulator)
    python_rdd = sc._jvm.PythonRDD  # each py4j class lookup is a round trip

    def run_chunk(grid: RDD, k: int) -> tuple[RDD, tuple]:
        """One round: ``k`` sweeps from ``grid`` in one job; the cut
        new grid and the per-sweep global maxima.

        A round redoes none of the solve's fixed work. The kernel is
        pickled into a JVM ``PythonFunction`` once per ``k``
        (``pyspark.core.rdd._wrap_function``, which ``PipelinedRDD``
        calls for its own), and each round puts a ``PythonRDD`` over it
        and the previous round's cut. The action is
        ``countAsync().get()``: its job runs Spark's closure cleaner
        once, on a closure of the small ``AsyncRDDActions`` class, where
        ``count()`` runs it twice and re-parses the large ``RDD`` and
        ``SparkContext`` classes each time. Such a job does not
        checkpoint its RDD, so the round calls ``RDD.doCheckpoint()``
        itself, as ``runJob`` would: that truncates a local
        checkpoint's lineage, and with reliable checkpoints runs the job
        that writes the files. The other Spark-internal handles are
        ``_jsc``'s: the call site here and ``unpersistRDD`` in
        ``release_cut``. The output is a plain ``RDD``, so a ``map`` on
        it starts a new Python pass over the cut instead of pipelining
        the kernel."""
        if k not in kernels:
            maxima = sc.accumulator((float("-inf"),) * k, ElementwiseMax())
            kernel = _chunk_kernel(n, omega, k, rows_per_block, maxima)
            kernels[k] = _wrap_function(sc, kernel, stream, stream), maxima
        jfunc, maxima = kernels[k]
        # reset for this round: a late task of an earlier round cannot
        # add to it, as the scheduler drops the results of a stage that is gone
        maxima.value = (float("-inf"),) * k
        if nb > 1:
            grid = grid.flatMap(_halo_slices(n, rows_per_block, nb, k))
            grid = grid.partitionBy(nb, lambda t: t)
        jrdd = python_rdd(grid._jrdd.rdd(), jfunc, False, False)
        out = RDD(jrdd.asJavaRDD(), sc, stream)
        cut_rdd(out)
        # named here, as py4j calls otherwise get an arbitrary call site
        sc._jsc.setCallSite("count at laplace_blocked.py:run_chunk")
        try:
            out._jrdd.countAsync().get()
            jrdd.doCheckpoint()
        finally:
            sc._jsc.setCallSite(None)
        return out, maxima.value

    grid = sc.parallelize([(b, None) for b in range(nb)], nb)  # see _block_rows
    cut = False  # whether grid is a cut this solve made (and must free)
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
        tr = time.monotonic()
        chunk_end, maxes = run_chunk(grid, k)
        breakdown_s += time.monotonic() - tr
        converged_at = next((s for s in range(k) if maxes[s] <= epsilon), None)
        if converged_at is None or converged_at == k - 1:
            num_iterations += k
            final_diff = maxes[k - 1]
            done = converged_at is not None
        else:
            # converged mid-chunk: redo exactly converged_at+1 sweeps
            # from the chunk start (still materialized) so the final
            # grid state matches the reference's stop-after-converged-
            # sweep semantics bit-for-bit
            release_cut(sc, chunk_end.id())
            chunk_end, _ = run_chunk(grid, converged_at + 1)
            num_iterations += converged_at + 1
            final_diff = maxes[converged_at]
            done = True
        if cut:
            release_cut(sc, grid.id())  # the previous chunk's grid
        grid, cut = chunk_end, True
    duration = time.monotonic() - t0

    def grid_rows(block):
        _, (i0, rows) = block
        return ((i0 + r, row.tolist()) for r, row in enumerate(rows))

    grid_df = spark.createDataFrame(
        grid.flatMap(grid_rows), "i int, vals array<double>", verifySchema=False
    )
    grid_df = grid_df.select("i", F.posexplode("vals").alias("j", "v")).select(
        "i", F.col("j").cast("int").alias("j"), "v"
    )
    return LaplaceResult(grid_df, num_iterations, final_diff, omega, epsilon, duration, breakdown_s)
