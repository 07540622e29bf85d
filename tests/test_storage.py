"""Storage release between queries (`session.release_storage`).

Queries leave storage pinned in the session that runs them: pagerank
and label propagation cache their partitioned edges, and pagerank cuts
lineage with `localCheckpoint` (its `fwd` and `deg` frames), whose
blocks `catalog.clearCache()` cannot see. The release must free both.
It frees EVERYTHING the session holds, so it lives in its own module:
no other module's fixture is alive while it runs.
"""

from __future__ import annotations

from pwir_zadanie_4_mapreduce_spark.session import pinned_rdds, release_storage

from tests.conftest import SMOKE_SF


def test_release_frees_caches_and_local_checkpoints(spark):
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    before = set(pinned_rdds(spark))
    for name in ("graph_pagerank_fixed", "graph_label_propagation"):
        assert queries[name](spark, SMOKE_SF).collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert set(pinned_rdds(spark)) - before
    assert not cache.isEmpty()

    release_storage(spark)
    assert pinned_rdds(spark) == {}
    assert cache.isEmpty()
