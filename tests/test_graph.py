"""The graph-round layout (`functions/graph.py`): one broadcast
decision per loop, and the shuffle plan it falls back to.

With both broadcast thresholds off, components, label propagation and
pagerank must return what their broadcast plans return, and no
exchange in their rounds may ship edge rows: the edge cache is
partitioned by the join key, so only the vertex table and
map-side-combined aggregation rows move.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark.functions.graph import VertexSide
from pwir_zadanie_4_mapreduce_spark.operators.dedup import _cc_round, connected_components

from tests.conftest import NO_BROADCAST, SMOKE_SF, session_conf, traced_jobs


@pytest.fixture(autouse=True)
def _release_caches(spark):
    yield
    spark.catalog.clearCache()


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _exchanges(df) -> tuple[int, int, list[str]]:
    """(shuffle exchanges, broadcast exchanges, exchanges that ship
    edge-cache rows) of ``df``'s executed plan. An exchange ships edge
    rows when an ``InMemoryTableScanExec`` is reachable below it
    without an aggregation (or another exchange) in between."""
    shuffles, broadcasts, edge_rows = 0, 0, []

    def reaches_cache(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec":
            return True
        if "Aggregate" in cls or "Exchange" in cls:
            return False
        return any(reaches_cache(c) for c in _children(node))

    def walk(node) -> None:
        nonlocal shuffles, broadcasts
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            shuffles += 1
            if any(reaches_cache(c) for c in _children(node)):
                edge_rows.append(node.simpleString(200))
        elif cls == "BroadcastExchangeExec":
            broadcasts += 1
        for c in _children(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return shuffles, broadcasts, edge_rows


def _values(spark, rows, cols: str):
    """A local relation of bigint columns: unlike ``createDataFrame``
    (an RDD, which the optimizer sizes at ``defaultSizeInBytes``), it
    carries a real size estimate, so the broadcast decision admits it."""
    values = ", ".join(str(tuple(r)) if len(r) > 1 else f"({r[0]})" for r in rows)
    names = cols.split(", ")
    casts = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in names)
    return spark.sql(f"SELECT {casts} FROM VALUES {values} AS t({cols})")


def _graph(spark):
    """Two 6-cliques joined by a path, plus an isolated node: edges
    outnumber vertices several times over."""
    pairs = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    pairs += [(a + 10, b + 10) for a, b in pairs] + [(5, 7), (7, 10)]
    edges = _values(spark, pairs + [(b, a) for a, b in pairs], "u, v")
    nodes = _values(spark, [(n,) for n in [*range(6), 7, *range(10, 16), 20]], "node")
    return nodes, edges


def test_decision_reads_the_threshold_without_a_job(spark):
    nodes, _ = _graph(spark)

    def decide():
        admitted = VertexSide.of(nodes).broadcast
        with session_conf(spark, NO_BROADCAST):
            return admitted, VertexSide.of(nodes).broadcast

    (admitted, declined), jobs = traced_jobs(spark, "graph-guard", decide)
    assert admitted and not declined
    assert jobs == []


def test_components_shuffle_plan(spark):
    nodes, edges = _graph(spark)

    def components():
        return sorted(map(tuple, connected_components(nodes, edges).collect()))

    want = components()
    with session_conf(spark, NO_BROADCAST):
        assert components() == want
        labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
        side = VertexSide.of(labels)
        out = _cc_round(side.edges(edges, join_key="u", group_key="v"), labels, side)
        out.collect()
    assert {label for _, label in want} == {0, 20}
    assert not side.broadcast
    shuffles, broadcasts, edge_rows = _exchanges(out)
    assert shuffles > 0 and broadcasts == 0
    assert edge_rows == []


@pytest.mark.parametrize("name", ["graph_label_propagation", "graph_pagerank_fixed"])
def test_query_shuffle_plan(spark, name):
    import __spark_entry__ as entrymod

    query = entrymod.queries()[name]
    want = query(spark, SMOKE_SF).collect()
    with session_conf(spark, NO_BROADCAST):
        df = query(spark, SMOKE_SF)
        got = df.collect()
    assert got == want and got
    shuffles, broadcasts, edge_rows = _exchanges(df)
    assert shuffles > 0 and broadcasts == 0
    assert edge_rows == []


def test_label_propagation_job_budget(spark, monkeypatch):
    """Label propagation runs its rounds as one plan: no lineage cut,
    and the edge cache is built while the query is built, so its
    action runs one job of its own (the rest are AQE stage jobs). With per-round cuts the build ran 11
    jobs (sf0.1) and executor loss could destroy the cut blocks; with
    the cache left to the action, AQE built it in one job per reader."""
    import __spark_entry__ as entrymod
    from pwir_zadanie_4_mapreduce_spark.operators import analytics

    cuts = []
    monkeypatch.setattr(analytics, "cut_lineage", lambda df: cuts.append(df) or df)
    query = entrymod.queries()["graph_label_propagation"]
    df, build = traced_jobs(spark, "lpa-build", lambda: query(spark, SMOKE_SF))
    # the timed action of the benchmark: a collect would lend its call
    # site to the AQE stage jobs too
    _, action = traced_jobs(
        spark, "lpa-action", lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert cuts == []

    def own(jobs):
        names = [name.split(" at ")[0] for name, _ in jobs]
        return [n for n in names if not n.startswith("$anonfun$withThreadLocalCaptured")]

    # the catalog's parquet job and the edge cache's count
    assert own(build) == ["parquet", "count"], build
    assert own(action) == ["save"], action
    # measured 9 build and 6 action jobs at 2 and at 8 cores
    assert len(build) + len(action) <= 15, (build, action)
