"""Shared pieces of the red-black SOR Laplace solver (the solver itself
is :func:`.laplace_blocked.solve_blocked`).

- parameters: ``get_omega`` = 1.6 / (1 + sqrt(1 - cos²(π/N)))
  (laplace-common-impl.h:37-41) and ``get_epsilon`` = 2e-6 /
  (2 - 1.25·omega) (:45-48), computed driver-side with the same libm
  calls as the reference;
- the result type ``LaplaceResult``: the final grid ``(i, j, v)``,
  iteration count, final max |Δ| and the stats-line timings;
- the checkpoint ledger: ``checkpoint_tracked`` cuts a grid's lineage
  and records the RDDs it pinned, ``release_checkpoints`` frees them,
  so a solve holds one live grid at a time;
- the sinks: ``format_grid`` (the ordered ``%.10f`` grid dump,
  laplace-seq.c:99-111) and ``print_stats`` (the stats line).
"""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


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


@dataclass
class LaplaceResult:
    grid: DataFrame  # (i, j, v)
    num_iterations: int
    final_diff: float
    omega: float
    epsilon: float
    duration_s: float
    # Cumulative wall time of the per-chunk max-diff collects — the
    # analog of the reference's `breakdown` accumulator, which sums the
    # time the parallel program spends in MPI exchange/reduce
    # (laplace-par.c:177,391-392, printed at :541). The collect is also
    # the job that computes the chunk (it fills the chunk's lazy cut),
    # so this includes the sweeps themselves: everything but the halo
    # exchange's shuffle-map job, which runs when the cut is made.
    breakdown_s: float = 0.0


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
