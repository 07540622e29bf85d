"""The reference capability: red-black SOR Laplace solver as a Spark
iterative dataflow.

Reproduces `/root/reference/laplace-seq.c` bit-faithfully:
- grid init per getInitialValue (laplace-common-impl.h:11-33),
  precedence top row > bottom row > left col > right col;
- omega = 1.6 / (1 + sqrt(1 - cos²(π/N))) (laplace-common-impl.h:37-41)
  and epsilon = 2e-6 / (2 - 1.25·omega) (:45-48), computed driver-side
  (O2) with the same libm calls;
- per sweep, two color phases (color c updates interior cells with
  (i+j) % 2 == c, from the loop bounds at laplace-seq.c:189-193); the
  second phase reads the first phase's new values — the red-black
  reordering that makes in-place Gauss–Seidel embarrassingly parallel
  (SURVEY.md §2.1 O10);
- the 5-point stencil keeps the C association order
  ((up + down) + left) + right, /4 (laplace-seq.c:196) so doubles
  match the binary exactly;
- update v' = (1-omega)·v + omega·tmp (laplace-seq.c:198);
- convergence: sweep until max |v - v'| <= epsilon over BOTH phases
  of a sweep (laplace-seq.c:184-209), one global max-reduce per sweep
  — the Spark agg is the MPI_Allreduce(MAX) of laplace-par.c:504.

Physical design (scale-first): neighbor access is NOT four joins.
Each cell of the opposite color *sends* its value to the neighbors
that will read it (filtered to interior targets), and one
groupBy(i, j) with pivoted max-aggregation reassembles
(self, up, down, left, right) — ONE shuffle per phase, whose payload
is exactly the reference's halo traffic plus the local slab
(laplace-par.c:120-129 ships the needed parity-half of boundary rows;
Spark's shuffle compression + column pruning achieve the same
minimization without custom code). The pivoted columns keep the
4-term sum in a fixed expression-tree order, so doubles stay
bit-identical regardless of row arrival order. ``localCheckpoint``
per sweep cuts lineage — the standard Spark iterative pattern.

Performance note (BASELINE.md): per-sweep job-launch overhead makes
this orders of magnitude slower than the C binary at small N; the
capability is held to the correctness bar (exact #iters, per-cell
<= 1e-9), and the architecture is what matters at N where the grid
no longer fits one machine.
"""

from __future__ import annotations

import math
import sys
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _persisted_rdd_ids(sc) -> set[int]:
    """IDs of the RDDs the context currently holds in block storage
    (``JavaSparkContext.getPersistentRDDs`` — the public registry that
    both ``persist`` and ``localCheckpoint`` register into)."""
    jmap = sc._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def checkpoint_tracked(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint`` plus the IDs of the RDDs it persisted, so the
    chunk loop can free the PREVIOUS chunk's grid once the next one has
    materialized. Without this, storage grows by one N×N grid per chunk
    within a single solve (~0.5 GB/chunk at N=8192) — a solve must hold
    exactly one live grid, like the reference's two malloc'd buffers
    (laplace-seq.c:166-170).

    ``eager=True`` materializes the cut on return (one count job).
    ``eager=False`` only marks it: the RDD is registered for storage
    at once, so the returned IDs are the same, but its blocks are
    filled by the first action that reads every partition — the caller
    must run that action before releasing the frame the cut reads
    from. Under AQE a lazy cut over a plan with an exchange still runs
    the shuffle-map stage at call time (see functions/lineage.py)."""
    from pwir_zadanie_4_mapreduce_spark.functions.lineage import cut_lineage

    sc = df.sparkSession.sparkContext
    before = _persisted_rdd_ids(sc)
    # Reliable mode (see functions/lineage.py) writes checkpoint FILES
    # instead of blocks — the id diff is then empty and per-chunk
    # cleanup is the checkpoint dir's (old grids cost disk, not
    # executor memory).
    out = cut_lineage(df, eager=eager)
    return out, _persisted_rdd_ids(sc) - before


def release_checkpoints(spark: SparkSession, ids: set[int]) -> None:
    """Free the block storage of earlier ``checkpoint_tracked`` grids.

    Non-blocking unpersist; only IDs recorded by ``checkpoint_tracked``
    are touched, so persisted frames owned by other operators in the
    same session are never evicted."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)


def get_omega(n: int) -> float:
    """laplace-common-impl.h:37-41 (note 1.6, not the textbook 2.0)."""
    p = math.cos(math.pi / float(n))
    return 1.6 / (1 + math.sqrt(1 - p * p))


def get_epsilon(n: int) -> float:
    """laplace-common-impl.h:45-48."""
    return 0.000002 / (2.0 - 1.25 * get_omega(n))


def make_grid(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """O1 generate source: the N×N grid with Dirichlet boundaries.

    Data is a *function*, not a file (laplace-common-impl.h:11-33);
    the when-chain preserves the C else-if precedence (corners take
    the row value).
    """
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("int").alias("i"),
            (F.col("id") % n).cast("int").alias("j"),
        )
        .withColumn(
            "v",
            F.when(F.col("i") == 0, 4.56)
            .when(F.col("i") == n - 1, 9.85)
            .when(F.col("j") == 0, 7.32)
            .when(F.col("j") == n - 1, 6.88)
            .otherwise(0.0)
            .cast("double"),
        )
    )
    if num_partitions:
        # 1-D row-block decomposition (laplace-par.c:245-251)
        df = df.repartitionByRange(num_partitions, "i")
    return df


def _color_phase(
    grid: DataFrame, n: int, omega: float, color: int, diff_col: str, carry: tuple[str, ...]
) -> DataFrame:
    """One half-sweep over ``grid(i, j, v, <carry...>, <diff_col>)``.

    Returns the full grid with updated values for interior cells of
    ``color`` and ``diff_col`` accumulated (greatest of incoming diff
    and this phase's per-cell delta). ``carry`` columns (earlier
    sweeps' diffs, when sweeps are chunked into one job) pass through
    untouched — they ride the self rows and are null on scatter rows,
    so max-agg reassembles them for free.
    """
    passthrough = (*carry, diff_col)
    # Scatter as ONE explode, not a 5-way union: each row emits a
    # message array — itself (role 0) plus, when it is the color being
    # READ this phase, one message per interior neighbor that will
    # consume it (roles 1-4). A union would reference the grid 5× per
    # phase, which makes chained multi-sweep plans grow 5^(2k) and
    # blows up analysis; the explode keeps one reference per phase
    # (linear plans) and one scan instead of five.
    is_src = ((F.col("i") + F.col("j")) % 2) != color

    def msg(di: int, dj: int, role: int):
        ti, tj = F.col("i") + di, F.col("j") + dj
        ok = is_src & (ti > 0) & (ti < n - 1) & (tj > 0) & (tj < n - 1)
        return F.when(
            ok, F.struct(ti.alias("ti"), tj.alias("tj"), F.lit(role).alias("role"))
        )
    # a cell at (si, sj) is the "up" neighbor (points[i-1][j]) of
    # (si+1, sj), the "down" neighbor of (si-1, sj), "left" of
    # (si, sj+1), "right" of (si, sj-1)  — laplace-seq.c:196
    msgs = F.filter(
        F.array(
            F.struct(F.col("i").alias("ti"), F.col("j").alias("tj"), F.lit(0).alias("role")),
            msg(1, 0, 1),   # up contribution
            msg(-1, 0, 2),  # down
            msg(0, 1, 3),   # left
            msg(0, -1, 4),  # right
        ),
        lambda x: x.isNotNull(),
    )
    rows = grid.select("v", *passthrough, F.explode(msgs).alias("m"))

    def role_val(role: int, col: str):
        return F.max(F.when(F.col("m.role") == role, F.col(col)))

    g = rows.groupBy(
        F.col("m.ti").alias("i"), F.col("m.tj").alias("j")
    ).agg(
        role_val(0, "v").alias("v"),
        *[role_val(0, c).alias(c) for c in passthrough],
        role_val(1, "v").alias("n_up"),
        role_val(2, "v").alias("n_down"),
        role_val(3, "v").alias("n_left"),
        role_val(4, "v").alias("n_right"),
    )
    # ((up + down) + left) + right, then /4 — laplace-seq.c:196
    tmp = ((F.col("n_up") + F.col("n_down")) + F.col("n_left")) + F.col("n_right")
    new_v = (1.0 - omega) * F.col("v") + omega * (tmp / 4.0)
    is_target = F.col("n_up").isNotNull()  # only targets receive contributions
    return g.select(
        "i",
        "j",
        F.when(is_target, new_v).otherwise(F.col("v")).alias("v"),
        *[F.col(c) for c in carry],
        F.when(is_target, F.greatest(F.col(diff_col), F.abs(F.col("v") - new_v)))
        .otherwise(F.col(diff_col))
        .alias(diff_col),
    )


def _sweep(grid: DataFrame, n: int, omega: float, diff_col: str, carry: tuple[str, ...]) -> DataFrame:
    """One full sweep (both colors), accumulating into ``diff_col``
    (reset to 0 at sweep start, exactly like maxDiff in
    laplace-seq.c:186); color 1 reads color 0's new values (O10)."""
    g = grid.withColumn(diff_col, F.lit(0.0))
    g = _color_phase(g, n, omega, 0, diff_col, carry)
    return _color_phase(g, n, omega, 1, diff_col, carry)


@dataclass
class LaplaceResult:
    grid: DataFrame  # (i, j, v)
    num_iterations: int
    final_diff: float
    omega: float
    epsilon: float
    duration_s: float
    # Cumulative wall time of the per-chunk max-diff reduction actions
    # — the analog of the reference's `breakdown` accumulator, which
    # sums the time the parallel program spends in MPI exchange/reduce
    # (laplace-par.c:177,391-392, printed at :541). In ``solve`` the
    # chunk is already materialized, so this is the reduce alone. In
    # ``laplace_blocked.solve_blocked`` the timed collect is also the
    # job that computes the chunk (it fills the chunk's lazy cut), so
    # it includes the sweeps themselves — everything but the halo
    # exchange's shuffle-map job, which runs when the cut is made.
    breakdown_s: float = 0.0


def solve(
    spark: SparkSession,
    n: int,
    num_partitions: int | None = None,
    max_iterations: int | None = None,
    sweeps_per_job: int = 8,
) -> LaplaceResult:
    """Run SOR to convergence (the do-while of laplace-seq.c:184-209).

    Driver-synchronization amortization: ``sweeps_per_job`` sweeps are
    chained into ONE job (each with its own diff_s column riding
    along), then a single action materializes the chunk and a trivial
    scan of the cached result reads all per-sweep maxima — one driver
    round-trip per chunk instead of per sweep. The C program stops
    after the first converged sweep, so when convergence lands
    mid-chunk the tail is recomputed from the chunk-start checkpoint
    for exactly that many sweeps — iteration count, final diff, and
    the grid state match the reference bit-for-bit. (With
    sweeps_per_job=1 this degenerates to the one-Allreduce-per-sweep
    loop of laplace-par.c:504.)
    """
    if n < 2:
        raise ValueError("numPointsPerDimension must be >= 2 (laplace-seq.c:155-161)")
    omega = get_omega(n)
    epsilon = get_epsilon(n)
    # scale the per-sweep shuffle width to the grid: thousands of
    # sweeps over a tiny grid must not pay 32 near-empty reducers each
    # (at cluster scale the session default wins the min()).
    conf_key = "spark.sql.shuffle.partitions"
    saved_partitions = spark.conf.get(conf_key)
    fitted = max(2, min(int(saved_partitions), (n * n) // 2048 + 1))
    spark.conf.set(conf_key, str(fitted))
    try:
        chunk_start, cur_ids = checkpoint_tracked(make_grid(spark, n, num_partitions))
        num_iterations = 0
        final_diff = float("inf")
        breakdown_s = 0.0
        t0 = time.monotonic()
        done = False
        while not done:
            k = sweeps_per_job
            if max_iterations is not None:
                k = min(k, max_iterations - num_iterations)
                if k <= 0:
                    break
            g = chunk_start
            diff_cols: list[str] = []
            for s in range(k):
                g = _sweep(g, n, omega, f"d{s}", tuple(diff_cols))
                diff_cols.append(f"d{s}")
            chunk_end, end_ids = checkpoint_tracked(g)  # ONE job for k sweeps
            # the global max-reduce is the MPI_Allreduce(MAX) analog
            # (laplace-par.c:504); its wall time is what the reference
            # accumulates into `breakdown`
            tr = time.monotonic()
            maxes = chunk_end.agg(*[F.max(c).alias(c) for c in diff_cols]).first()
            breakdown_s += time.monotonic() - tr
            converged_at = next((s for s in range(k) if maxes[s] <= epsilon), None)
            if converged_at is None:
                chunk_start = chunk_end.drop(*diff_cols)
                release_checkpoints(spark, cur_ids)  # prev chunk's grid
                cur_ids = end_ids
                num_iterations += k
                final_diff = maxes[k - 1]
            elif converged_at == k - 1:
                chunk_start = chunk_end.drop(*diff_cols)
                release_checkpoints(spark, cur_ids)
                cur_ids = end_ids
                num_iterations += k
                final_diff = maxes[converged_at]
                done = True
            else:
                # converged mid-chunk: redo exactly converged_at+1
                # sweeps from the chunk start (still materialized)
                g = chunk_start
                for s in range(converged_at + 1):
                    g = _sweep(g, n, omega, f"d{s}", tuple(f"d{r}" for r in range(s)))
                chunk_start, redo_ids = checkpoint_tracked(
                    g.drop(*[f"d{s}" for s in range(converged_at + 1)])
                )
                release_checkpoints(spark, cur_ids | end_ids)
                cur_ids = redo_ids
                num_iterations += converged_at + 1
                final_diff = maxes[converged_at]
                done = True
        duration = time.monotonic() - t0
    finally:
        spark.conf.set(conf_key, saved_partitions)
    return LaplaceResult(
        chunk_start, num_iterations, final_diff, omega, epsilon, duration, breakdown_s
    )


def format_grid(result: LaplaceResult, n: int) -> str:
    """O14 ordered sink: rows in (i, j) order, %.10f space-separated
    (laplace-seq.c:99-111).

    Streams via ``toLocalIterator`` — the sorted plan's range
    partitions arrive in order, one at a time, so the driver holds one
    partition rather than the whole grid: the Spark analog of the
    reference's rank-by-rank slab gather (laplace-par.c:546-574),
    where rank 0 reuses one slab buffer instead of materializing N²."""
    it = result.grid.orderBy("i", "j").toLocalIterator()
    lines: list[str] = []
    row_vals: list[str] = []
    for row in it:
        row_vals.append("%.10f" % row["v"])
        if len(row_vals) == n:
            lines.append(" ".join(row_vals))
            row_vals = []
    return "\n".join(lines) + "\n"


def print_stats(result: LaplaceResult, file=sys.stderr) -> None:
    """O15 stats sink. Field order mirrors the parallel reference's
    stats line (laplace-par.c:541): duration, breakdown (cumulative
    reduce/exchange time — see LaplaceResult.breakdown_s), #iters,
    diff, epsilon."""
    print(
        f"Statistics: duration(s)={result.duration_s:.6f} "
        f"breakdown={result.breakdown_s:.6f} "
        f"#iters={result.num_iterations} diff={result.final_diff:.10f} "
        f"epsilon={result.epsilon:.10f}",
        file=file,
    )
