"""Storage release between queries (`session.release_storage`).

Queries leave storage pinned in the session that runs them: pagerank
and label propagation cache their partitioned edges, and pagerank cuts
lineage with `localCheckpoint` (its `fwd` and `deg` frames), whose
blocks `catalog.clearCache()` cannot see. The release must free both.
It frees EVERYTHING the session holds, so it lives in its own module:
no other module's fixture is alive while it runs. It frees each RDD
through `lineage.release_cut`, which logs nothing for a local
checkpoint (`RDD.unpersist` logs a WARN for each).
"""

from __future__ import annotations

from pwir_zadanie_4_mapreduce_spark.session import pinned_rdds, release_storage

from tests.conftest import SMOKE_SF, run_driver


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
    assert pinned_rdds(spark) == set()
    assert cache.isEmpty()


def test_release_logs_no_checkpoint_warning(tmp_path):
    """Releasing a local checkpoint writes nothing to the log: a
    session of its own, whose JVM stderr this test can read, at
    Spark's default WARN level, cuts a frame with `cut_lineage`, reads
    it and releases it."""
    proc = run_driver(
        """
from pwir_zadanie_4_mapreduce_spark.functions.lineage import cut_lineage
from pwir_zadanie_4_mapreduce_spark.session import build_session, pinned_rdds, release_storage
spark = build_session(cpus=2)
df = cut_lineage(spark.range(100))
print(df.count(), len(pinned_rdds(spark)))
release_storage(spark)
print(len(pinned_rdds(spark)))
""",
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows, pinned, left = proc.stdout.split()
    assert rows == "100" and int(pinned) >= 1 and left == "0", proc.stdout
    assert "locally checkpointed" not in proc.stderr
