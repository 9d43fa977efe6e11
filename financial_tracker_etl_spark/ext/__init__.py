"""Shared helpers for the ext operators: :class:`LineageCuts`, the
per-iteration lineage cut of the iterative operators (pagerank, BFS,
connected components, BPE training), and :func:`materialize_release`,
the end-of-build step of the pair-producing ones.

A cut is ``localCheckpoint(eager=True)`` by default. With
:data:`CHECKPOINT_DIR_CONF` set, each operator run owns a fresh
``<dir>/<uuid>`` directory, writes every cut there as parquet and keeps
only its newest :data:`CHECKPOINT_KEEP` cuts. Runs share no state, so
concurrent runs on different driver threads cannot touch each other's
files, and the SparkContext's own checkpoint directory is never used.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

#: Runtime conf key: set to a cluster-visible directory (HDFS/S3) to
#: make every lineage cut of the iterative operators a durable parquet
#: write under it instead of a localCheckpoint, so an iteration
#: survives executor loss at the cost of one DFS write+read per cut.
CHECKPOINT_DIR_CONF = "spark.financial_tracker_etl_spark.checkpointDir"

#: Durable cuts kept per run. Older iterations are dead weight once a
#: newer cut has materialized (a 20-iteration pagerank would otherwise
#: leave ~10 copies of the rank vector per run). 2, not 1: the cut
#: being written may still read the previous one.
CHECKPOINT_KEEP = 2


class LineageCuts:
    """The lineage cuts of one iterative-operator run: call it on each
    round's frame to materialize it and truncate its plan, so the
    logical tree stays bounded across iterations.

    The conf is read once, when the run starts. Unset, a cut is
    ``df.localCheckpoint(eager=True)``: its blocks live in
    non-replicated executor storage, so an executor loss fails the job
    and a retry starts over, which suits short jobs. Set, the run writes
    cut ``n`` to ``<dir>/<uuid>/<n>`` as parquet, returns a read of it,
    and deletes its own cuts older than the newest
    :data:`CHECKPOINT_KEEP`. The surviving cuts back the run's returned
    frame and are not deleted by this class; remove the conf directory
    when the outputs are no longer needed.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        target = spark.conf.get(CHECKPOINT_DIR_CONF, None)
        self._dir = f"{target.rstrip('/')}/{uuid.uuid4().hex}" if target else None
        self._kept: list[str] = []
        self._n = 0

    def __call__(self, df: DataFrame) -> DataFrame:
        if self._dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{self._dir}/{self._n}"
        self._n += 1
        df.write.parquet(path)
        self._kept.append(path)
        if len(self._kept) > CHECKPOINT_KEEP:
            self._delete(self._kept.pop(0))
        return self._spark.read.parquet(path)

    def _delete(self, path: str) -> None:
        sc = self._spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        hpath.getFileSystem(sc._jsc.hadoopConfiguration()).delete(hpath, True)


def materialize_release(out: DataFrame, *staged: DataFrame) -> DataFrame:
    """Materialize ``out`` into cache with one cheap ``count`` action,
    then release the staging caches it consumed.

    This is the fan-out operators' end-of-build step: the O(pairs)
    output is small next to the staged intermediate (shingles /
    fingerprints / bucketed vectors), so we pin the output and drop the
    intermediate before returning. ``persist`` + ``count`` rather than
    ``localCheckpoint(eager=True)`` deliberately:

    - lineage is KEPT, so on a real cluster an executor loss recomputes
      the lost partitions instead of failing the job (checkpoint blocks
      live in non-replicated executor block storage);
    - cache blocks are LRU-evictable and freed by the ContextCleaner
      when the frame is garbage collected, so repeated operator calls
      do not accumulate unreclaimable checkpoint blocks.

    Caller-side contract: the returned frame is persisted and is NOT
    unpersisted by this module. A caller that retains references to
    many operator outputs in a long-lived driver should
    ``out.unpersist()`` each one when done with it (GC/ContextCleaner
    only reclaims blocks whose frames are unreachable); batch loops
    that run many operators back-to-back may instead call
    ``spark.catalog.clearCache()`` between iterations, as
    ``ladder.main`` and ``bench.py`` do.
    """
    out = out.persist()
    out.count()
    for df in staged:
        df.unpersist(blocking=False)
    return out
