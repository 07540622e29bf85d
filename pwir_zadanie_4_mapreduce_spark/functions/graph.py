"""The graph-round layout shared by connected components, label
propagation and pagerank: one edge cache and one vertex-broadcast
decision.

Each of those loops repeats one bulk-synchronous round — the
join + aggregate round of the MapReduce graph algorithms (PAPERS.md,
*MapReduce Algorithms for Big Data Analysis*) and of GraphX's
partitioned-edges + replicated-vertices layout: a join hands every
edge the vertex value at its ``join_key`` end, then an aggregation
combines the joined rows onto the vertex at its ``group_key`` end.

Edges. The edge list is hash-partitioned ONCE and cached. An
``InMemoryRelation`` (unlike a ``localCheckpoint``'s ``LogicalRDD``)
keeps that partitioning visible to the planner, so the |E|-row
exchange is paid once, at cache build, not once per round. Callers
aggregate on the RAW key attribute, not an alias, so the cache's
hashpartitioning satisfies the aggregation's clustering requirement
and its exchange is elided; they rename afterwards. The cache is
built when laid out (one count), so the rounds only read it: left to
them, adaptive execution built it inside the query's action, in one
job per reader of the cache (4 for label propagation's 3 rounds). It
is the caller's to release (`session.release_storage`), since a
lazily returned frame still reads it.

Vertices. With the vertex side broadcast, the edges are partitioned
by ``group_key``: the broadcast join keeps the stream side's
partitioning, so a round runs ZERO exchanges (test_shuffle_volume
pins it; label propagation's rounds measured −15 % at 32 cores and
−12 % at 8 against exchanging the join and both aggregations).
The hint must be explicit, because the automatic broadcast stops
after one round: the optimizer's estimate of a joined frame
multiplies its inputs' (label propagation's labels at sf0.1: 1.2 MB
initially, 1.15e12 B after one round's join), while a lineage cut
keeps the estimate it was given. An explicit hint overrides
``spark.sql.autoBroadcastJoinThreshold``, so this module is the one
place that decides: broadcast only when the optimizer's estimate of
the loop's INITIAL one-row-per-vertex table is at or under the
session's threshold. The vertex set never grows across rounds, so
that one reading covers every round, and it runs no Spark job. A
table the optimizer cannot size small (an RDD-built frame counts as
``spark.sql.defaultSizeInBytes``; one downstream of a join carries the
join's multiplied estimate) is not broadcast, as Spark itself would
not.

Otherwise the edges are partitioned by ``join_key``: the join
shuffles only the vertex table onto the cached partitions, and the
aggregation ships its map-side-combined rows (one per key per
partition), so no edge row crosses an exchange.

Breadth-first search (``graph_bfs_levels``) keeps its own
unconditional frontier hints. Its frontiers are one supplier's parts
and those parts' suppliers, small at every scale, but the optimizer
sizes the first as every part id (a filter keeps its input's
estimate), and BFS has no edge layout to fall back on: declined, each
of its semi and anti joins would re-shuffle the whole edge list.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class VertexSide:
    """A loop's one broadcast decision; calling it hints a vertex table."""

    broadcast: bool

    @classmethod
    def of(cls, vertices: DataFrame) -> VertexSide:
        """Decide from ``vertices``, the loop's initial one-row-per-vertex
        table, by the rule Spark's own automatic broadcast applies."""
        conf = vertices.sparkSession._jsparkSession.sessionState().conf()
        size = int(vertices._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return cls(0 <= size <= conf.autoBroadcastJoinThreshold())

    def __call__(self, vertices: DataFrame) -> DataFrame:
        return F.broadcast(vertices) if self.broadcast else vertices

    def edges(self, edges: DataFrame, join_key: str, group_key: str) -> DataFrame:
        """``edges`` hash-partitioned for this decision, cached and built."""
        ev = edges.repartition(group_key if self.broadcast else join_key).cache()
        ev.count()
        return ev
