"""Lineage cuts with a reliability switch (round-9 verdict #5).

Multi-pass and iterative operators truncate lineage where a frame is
read more than once, so it is not recomputed from the scan. Connected
components cuts every round, because its convergence count reads the
round's labels. Lloyd k-means, PageRank and BFS cut their inputs once
(the training set, the edge and degree frames, the edge list) and
then run rounds without a cut; label propagation runs no cut at all,
its edges read through a cache (functions/graph.py). The fan-in
frames several single-job ops re-aggregate are cut too.

The default spelling is ``localCheckpoint`` — executor-local block
storage, zero extra I/O — which is the right cost model on a healthy
cluster but NON-RELIABLE: an executor loss destroys its blocks, and
because the lineage was truncated they cannot be recomputed; the job
dies (measured in tests/test_fault_recovery.py).

At 100 TB / 1000 executors, task retry and executor loss are routine,
so the engine exposes the reliable spelling behind one switch:
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` turns every cut into
``DataFrame.checkpoint()`` — materialized to the checkpoint directory
(``SPARK_GRAFT_CHECKPOINT_DIR``, else a reaped temp dir; on a real
cluster: HDFS/object storage) — which survives any executor loss; lost
downstream partitions re-read the checkpoint files during stage retry.
The cost delta is one write+read of the cut frame per cut (measured in
SCALE.md).

Call sites keep chain style via ``.transform(cut_lineage)``.
``cut_rdd`` is the same switch for an RDD (the Laplace solver's grid);
``release_cut`` frees such a cut, or any stored RDD, by id.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import RDD, SparkContext, StorageLevel
from pyspark.sql import DataFrame

_CONFIGURED_APPS: set[str] = set()


def reliable_checkpoints_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") not in ("", "0")


def _ensure_checkpoint_dir(sc: SparkContext) -> None:
    app = sc.applicationId
    if app in _CONFIGURED_APPS:
        return
    d = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not d:
        d = tempfile.mkdtemp(prefix="pwir_ckpt_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    sc.setCheckpointDir(d)
    _CONFIGURED_APPS.add(app)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage: localCheckpoint by default, reliable
    ``checkpoint()`` when SPARK_GRAFT_RELIABLE_CHECKPOINT=1.

    The cut defers its count job, but it is lazy only over a narrow
    plan. It plans ``df`` physically on the spot, and under AQE that
    runs every shuffle-map stage of the plan before this returns; only
    the stage after the last exchange waits for the first action. That
    action fills the local blocks as it computes them. A reliable
    ``checkpoint()`` writes its files in a second job once that action
    finishes, recomputing the cut frame from its last exchange (or its
    scan)."""
    if reliable_checkpoints_enabled():
        _ensure_checkpoint_dir(df.sparkSession.sparkContext)
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def cut_rdd(rdd: RDD) -> None:
    """Mark ``rdd`` to cut its lineage when its first job computes it:
    ``localCheckpoint`` by default; with
    SPARK_GRAFT_RELIABLE_CHECKPOINT=1, persist plus ``checkpoint()``,
    so the second job that writes the files reads the stored blocks
    instead of recomputing ``rdd``. Both are lazy, and neither stops
    PySpark from pipelining the Python function that computes ``rdd``
    into a later ``map``: read the cut through a fresh ``RDD`` over
    ``rdd._jrdd``."""
    if reliable_checkpoints_enabled():
        _ensure_checkpoint_dir(rdd.context)
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
    else:
        rdd.localCheckpoint()


def release_cut(sc: SparkContext, rdd_id: int) -> None:
    """Free the blocks of the RDD ``rdd_id`` (a cut by ``cut_rdd``, or
    any RDD the session holds in storage) when nothing reads it again.
    ``RDD.unpersist`` logs a WARN for every locally checkpointed RDD,
    that its lineage is truncated and cannot be recomputed, which is
    what a cut is for: an iterative caller would write that line once
    per round. The SparkContext's own removal, the one Spark's context
    cleaner runs for an unreachable RDD, frees the same blocks without
    it. Keyed by id, so ``session.release_storage`` frees the ids
    ``session.pinned_rdds`` returns through it too."""
    sc._jsc.sc().unpersistRDD(rdd_id, False)
