"""Shared pieces of the red-black SOR Laplace solver (the solver itself
is :func:`.laplace_blocked.solve_blocked`).

- parameters: ``get_omega`` = 1.6 / (1 + sqrt(1 - cos²(π/N)))
  (laplace-common-impl.h:37-41) and ``get_epsilon`` = 2e-6 /
  (2 - 1.25·omega) (:45-48), computed driver-side with the same libm
  calls as the reference;
- the result type ``LaplaceResult``: the final grid ``(i, j, v)``,
  iteration count, final max |Δ| and the stats-line timings;
- the sinks: ``format_grid`` (the ordered ``%.10f`` grid dump,
  laplace-seq.c:99-111) and ``print_stats`` (the stats line).
"""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame


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
    # Cumulative wall time of the per-chunk rounds, the mid-chunk redo
    # excluded, from building the round to its per-sweep maxima on the
    # driver — the analog of the reference's `breakdown` accumulator,
    # which sums the time the parallel program spends in MPI
    # exchange/reduce (laplace-par.c:177,391-392, printed at :541). A
    # round's one job also runs the halo shuffle and the sweeps
    # themselves, so this is nearly all of duration_s: it leaves out
    # the redo and the driver's own work between rounds.
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
