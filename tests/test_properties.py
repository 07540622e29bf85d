"""Property-based spot checks (SURVEY.md §5.2 item 4) — hypothesis
generates small literal tables; properties must hold for any input,
not just the TPC-H-ish fixtures.

Strategies are bounded (≤24 rows) so each example is a fast local
job; deadline disabled because Spark job latency is environmental,
not a correctness signal.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_vals = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=0,
    max_size=24,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(int(k), float(v)) for k, v in rows], "k int, v double"
    )


@given(rows=_vals)
@_settings
def test_union_all_count_additivity(spark, rows):
    df = _df(spark, rows)
    assert df.unionAll(df).count() == 2 * df.count()


@given(rows=_vals)
@_settings
def test_dedup_idempotent(spark, rows):
    df = _df(spark, rows)
    once = df.dropDuplicates()
    assert once.dropDuplicates().count() == once.count()


@given(rows=_vals, k=st.integers(min_value=0, max_value=5))
@_settings
def test_topk_is_sort_prefix(spark, rows, k):
    df = _df(spark, rows)
    topk = [r["v"] for r in df.orderBy(F.desc("v"), "k").limit(k).collect()]
    full = [r["v"] for r in df.orderBy(F.desc("v"), "k").collect()]
    assert topk == full[:k]


@given(rows=_vals)
@_settings
def test_groupby_sum_partition_invariant(spark, rows):
    """Partial+final aggregation must not depend on partitioning —
    the distributed-correctness property behind every groupBy."""
    df = _df(spark, rows)
    a = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    b = {
        r["k"]: r["n"]
        for r in df.repartition(7).groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert a == b


@given(rows=_vals)
@_settings
def test_filter_complement_partitions_rows(spark, rows):
    df = _df(spark, rows)
    pred = F.col("v") > 0
    assert df.filter(pred).count() + df.filter(~pred).count() == df.count()


def test_salted_join_heavy_skew_equals_plain(spark):
    """salted_join on a 90%-one-key fact must (a) equal the plain
    join and (b) actually spread the hot key's rows across salts —
    the property the per-key-salt anti-pattern fails."""
    from pwir_zadanie_4_mapreduce_spark.operators.advanced import salted_join

    n = 2000
    fact = spark.range(n).selectExpr(
        "id AS row_id",
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
        "CAST(id % 7 AS DOUBLE) AS v",
    )
    dim = fact.select(F.col("k").alias("dk")).distinct().withColumn(
        "label", F.concat(F.lit("g"), F.col("dk"))
    )
    plain = fact.join(dim, fact.k == dim.dk).groupBy("label").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    salted = salted_join(
        fact, dim, "k", "dk", F.xxhash64("row_id"), n_salt=8
    ).groupBy("label").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    assert sorted(plain.collect()) == sorted(salted.collect())
    hot_salts = (
        fact.filter(F.col("k") == 0)
        .select(F.pmod(F.xxhash64("row_id"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert hot_salts >= 6, f"hot key only hit {hot_salts}/8 salts"


def test_binned_weighted_median_brackets_exact(spark):
    """The binned bracket (the 100 TB headline spelling, sf1 slope
    0.01) must CONTAIN the exact weighted median (the oracle-of-record
    spelling, slope 0.98) for every group: the per-row cumulative walk
    and the per-bin cumulative walk cross half-total inside the same
    value bin, so exact ∈ [lo_b, hi_b]. This is the exactness
    tolerance that justifies benching the binned plan as the default
    (round-5 verdict #3)."""
    from pwir_zadanie_4_mapreduce_spark.operators.binned import (
        agg_weighted_median_binned,
    )
    from pwir_zadanie_4_mapreduce_spark.operators.stats import agg_weighted_median

    sf = "/root/testdata/sf0.01"
    exact = {r["l_returnflag"]: r["weighted_median"]
             for r in agg_weighted_median(spark, sf).collect()}
    binned = {r["l_returnflag"]: (r["weighted_median_lo"], r["weighted_median_hi"])
              for r in agg_weighted_median_binned(spark, sf).collect()}
    assert set(exact) == set(binned)
    for flag, med in exact.items():
        lo, hi = binned[flag]
        assert lo <= med <= hi, (flag, lo, med, hi)
        # and the bracket is actually tight: one fine bin, not the range
        assert hi - lo < med * 0.05, (flag, lo, hi)


_edges = st.lists(
    st.tuples(st.integers(min_value=0, max_value=11), st.integers(min_value=0, max_value=11)),
    min_size=0,
    max_size=16,
)


@given(edges=_edges)
@_settings
def test_connected_components_both_algorithms_match_union_find(spark, edges):
    """Min-label propagation AND large-star/small-star must both equal
    a reference union-find, for arbitrary small graphs (self-loops,
    parallel edges, isolated nodes included)."""
    from pwir_zadanie_4_mapreduce_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 12
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {x: find(x) for x in range(n)}
    # canonicalize to component minimum
    comp_min = {}
    for x in range(n):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    want = {x: comp_min[find(x)] for x in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    both_dirs = edges + [(v, u) for u, v in edges]
    if both_dirs:
        edf = spark.createDataFrame(both_dirs, "u long, v long")
    else:
        edf = spark.createDataFrame([], "u long, v long")
    got_prop = {
        r["node"]: r["label"] for r in connected_components(nodes, edf).collect()
    }
    got_star = {
        r["node"]: r["label"] for r in connected_components_star(nodes, edf).collect()
    }
    assert got_prop == want
    assert got_star == want


@st.composite
def _laplace_cases(draw):
    """Small solves of a few chunks: odd and even n, 1-4 blocks, and
    chunks of up to 6 sweeps, whose 2k-row halo is wider than any
    block here; the cap may stop mid-chunk, and the smallest grids
    converge inside it (a mid-chunk redo or a chunk end)."""
    n = draw(st.integers(min_value=2, max_value=11))
    num_blocks = draw(st.integers(min_value=1, max_value=4))
    k = draw(st.integers(min_value=1, max_value=6))
    max_iterations = draw(st.integers(min_value=1, max_value=3 * k))
    return n, num_blocks, k, max_iterations


@given(case=_laplace_cases())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_laplace_blocked_bit_equal_to_scalar(spark, case):
    """Block count, chunk size and iteration cap are execution knobs:
    every combination is bit-equal to the C loop's transliteration
    (grid doubles, iteration count, final diff)."""
    from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

    from tests.test_laplace_blocked import _assert_matches_scalar

    n, num_blocks, k, max_iterations = case
    r = solve_blocked(
        spark, n, num_blocks=num_blocks, sweeps_per_job=k, max_iterations=max_iterations
    )
    _assert_matches_scalar(r, n, max_iterations=max_iterations)
