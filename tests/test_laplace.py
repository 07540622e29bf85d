"""Golden outputs of the reference binary (FIXTURES.md §2) and the
scalar reference that reproduces them.

``solve_scalar`` transliterates the SOR loop of laplace-seq.c:184-209
cell by cell in Python floats (IEEE doubles, the same operations in
the same order), so it needs no Spark. It reproduces every golden
below exactly; test_laplace_blocked.py holds the Spark solver to
bit-equality with it.
"""

from __future__ import annotations

import pytest

from pwir_zadanie_4_mapreduce_spark import laplace

GOLDEN_N4 = """4.5600000000 4.5600000000 4.5600000000 4.5600000000
7.3200000000 6.5462491961 6.4362495359 6.8800000000
7.3200000000 7.8687495359 7.7587491961 6.8800000000
9.8500000000 9.8500000000 9.8500000000 9.8500000000
"""

GOLDEN_N8 = """4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000
7.3200000000 6.0508443009 5.6100965587 5.4539415829 5.4267729218 5.5180913101 5.8509568129 6.8800000000
7.3200000000 6.7132822042 6.3755998373 6.2189003545 6.1750581536 6.2346383153 6.4457356565 6.8800000000
7.3200000000 7.1066841651 6.9601252944 6.8710006903 6.8199273359 6.7996672154 6.8173503075 6.8800000000
7.3200000000 7.4333326651 7.4872153308 7.4850576486 7.4339818451 7.3267592158 7.1439977176 6.8800000000
7.3200000000 7.8194305242 8.0703520282 8.1480312891 8.1041910522 7.9293889311 7.5518848506 6.8800000000
7.3200000000 8.4540402131 8.8267300431 8.9325307405 8.9053609895 8.7347256685 8.2541522400 6.8800000000
9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000
"""

# N -> (#iters, final diff as printed with %.10f), laplace-seq.exe N
GOLDEN_STATS = {
    4: (15, "0.0000016081"),
    8: (47, "0.0000030808"),
    16: (132, "0.0000056832"),
    32: (368, "0.0000110032"),
    64: (1045, "0.0000212198"),
}


def initial_value(i: int, j: int, n: int) -> float:
    """getInitialValue, laplace-common-impl.h:11-33 (else-if order:
    corners take the row value)."""
    if i == 0:
        return 4.56
    if i == n - 1:
        return 9.85
    if j == 0:
        return 7.32
    if j == n - 1:
        return 6.88
    return 0.0


def solve_scalar(n: int, max_iterations: int | None = None):
    """laplace-seq.c:184-209 one cell at a time; returns (grid rows,
    #iters, final maxDiff). ``max_iterations`` caps the do-while."""
    omega, epsilon = laplace.get_omega(n), laplace.get_epsilon(n)
    p = [[initial_value(i, j, n) for j in range(n)] for i in range(n)]
    iterations = 0
    while True:
        max_diff = 0.0
        for color in (0, 1):
            for i in range(1, n - 1):
                for j in range(1 + (i % 2 == color), n - 1, 2):
                    tmp = (((p[i - 1][j] + p[i + 1][j]) + p[i][j - 1]) + p[i][j + 1]) / 4.0
                    diff = p[i][j]
                    p[i][j] = (1.0 - omega) * p[i][j] + omega * tmp
                    max_diff = max(max_diff, abs(diff - p[i][j]))
        iterations += 1
        if max_diff <= epsilon or iterations == max_iterations:
            return p, iterations, max_diff


def format_rows(grid) -> str:
    """laplace-seq.c:99-111: one line per row, %.10f space-separated."""
    return "".join(" ".join("%.10f" % v for v in row) + "\n" for row in grid)


def test_omega_epsilon_closed_forms():
    # laplace-common-impl.h:37-48 — golden values from BASELINE.md
    assert abs(laplace.get_epsilon(4) - 0.0000024142) < 1e-10
    assert abs(laplace.get_epsilon(8) - 0.0000036131) < 1e-10
    assert abs(laplace.get_epsilon(16) - 0.0000061258) < 1e-10


def test_n2_no_interior_cells():
    # the C loop body never executes for N=2: one sweep, diff 0
    _, iterations, final_diff = solve_scalar(2)
    assert iterations == 1
    assert final_diff == 0.0


def test_n4_exact_golden_grid():
    assert format_rows(solve_scalar(4)[0]) == GOLDEN_N4


def test_n8_iterations_and_grid():
    grid, iterations, _ = solve_scalar(8)
    assert iterations == 47
    assert format_rows(grid) == GOLDEN_N8


@pytest.mark.parametrize("n", sorted(GOLDEN_STATS))
def test_scalar_reference_stats(n):
    _, iterations, final_diff = solve_scalar(n)
    assert (iterations, f"{final_diff:.10f}") == GOLDEN_STATS[n]
