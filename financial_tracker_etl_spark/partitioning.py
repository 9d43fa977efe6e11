"""Partition sizing from plan statistics.

One sizer for every operator whose shuffles should follow the size of
its working set rather than the session constant: the iterative graph
loops, the run-to-completion streams (where the count also fixes the
number of state-store instances for the life of the checkpoint) and
the shingle fan-out of the near-duplicate operators.

The count is ``max(min(4, cores), ceil(bytes / 64 MB))``:

- ``bytes`` is Catalyst's ``sizeInBytes`` estimate of the working set.
  For a file source that is the file index's total, which lists remote
  storage as well as local disk, and no data is read to get it.
- 64 MB of source bytes per partition is a conservative upper proxy
  for per-partition state and shuffle bytes.
- The floor keeps a tiny input off a single straggler task (one
  partition measured 2-3x slower than four).
- There is no cap at ``cores``: a cluster-sized working set gets
  partitions of bounded size, not ``cores`` partitions of unbounded
  size.

``SPARK_GRAFT_SHUFFLE_PARTITIONS`` wins over the derivation: it is the
partition-count invariance harness (results must never depend on this
count, and the 7- and 90-partition differentials force it).

:func:`scoped_shuffle_partitions` is the one way a computation runs
under the count derived from its own working set.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .session import default_parallelism

TARGET_PARTITION_BYTES = 64 << 20


def _sql_conf(df: DataFrame):
    return df._jdf.sparkSession().sessionState().conf()


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's ``sizeInBytes`` estimate for ``df``, driver-side and
    without running a job. None when the plan is not measured.

    A leaf without size statistics (the LogicalRDD that
    ``createDataFrame`` plans, for example) reports
    ``spark.sql.defaultSizeInBytes``, and the operators above it scale
    that placeholder instead of passing it on: a narrowing Project
    keeps only its share of the row width. So the test is made on the
    leaves as well as the root; sizing partitions from a scaled
    placeholder would ask for billions of them."""
    plan = df._jdf.queryExecution().optimizedPlan()
    unmeasured = _sql_conf(df).defaultSizeInBytes()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        if int(leaves.apply(i).stats().sizeInBytes()) >= unmeasured:
            return None
    est = int(plan.stats().sizeInBytes())
    return None if est >= unmeasured else est


def _cores() -> int:
    return max(1, default_parallelism())


def derived_shuffle_partitions(*dfs: DataFrame) -> int:
    """Shuffle partition count for a working set made of ``dfs``: their
    summed plan-statistics bytes at 64 MB a partition, floored at
    ``min(4, cores)``. A frame without size statistics contributes
    nothing, so an unmeasurable working set gets the floor."""
    pinned = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if pinned:
        return max(1, int(pinned))
    total = sum(plan_bytes(df) or 0 for df in dfs)
    return max(min(4, _cores()), -(-total // TARGET_PARTITION_BYTES))


@contextlib.contextmanager
def scoped_shuffle_partitions(
    spark: SparkSession, *dfs: DataFrame
) -> Iterator[None]:
    """Set spark.sql.shuffle.partitions to
    :func:`derived_shuffle_partitions` of ``dfs`` while one computation
    sized from that working set plans its jobs, then restore the
    session value so other queries keep their own sizing. The callers
    are run-to-completion streams (the conf is read when the stream
    plans its first batch) and iterative graph loops (every round's
    eager job is planned inside the scope).

    The conf is session-global: a query that another driver thread
    plans on the same SparkSession while the scope is open inherits
    the count. So every caller holds the scope on its own thread and
    plans only its own jobs inside it. The one thread pool that runs
    inside a scope, pipeline.handle_batch's per-topic merges, does so
    on purpose: those merges are the shuffles being sized. A caller
    that must plan unrelated queries concurrently needs a per-session
    conf from ``SparkSession.newSession()`` instead of this scope."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(derived_shuffle_partitions(*dfs)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# operators that keep their child's partitions
_NARROW = frozenset({"Project", "Filter", "Generate", "Sample"})
# operators the planner puts behind a shuffle of the session count
_SHUFFLED = frozenset({"Aggregate", "Window", "Join"})


def planned_partitions(df: DataFrame) -> int:
    """Number of partitions ``df`` will run with, read from its
    optimized logical plan without planning or running it: the count
    of the nearest repartition, or of the source under a chain of
    narrow operators (and under the streamed side of a join whose
    other side is hinted for broadcast). A shuffling operator runs on
    the session count. 0 when the plan does not say, e.g. over a cached
    relation."""
    conf = _sql_conf(df)
    node = df._jdf.queryExecution().optimizedPlan()
    while True:
        kind = node.getClass().getSimpleName()
        if kind in _NARROW:
            node = node.child()
        elif kind == "Join" and _broadcast_hinted(node.hint().rightHint()):
            node = node.left()
        elif kind in ("Repartition", "RepartitionByExpression"):
            return node.numPartitions()
        elif kind in _SHUFFLED:
            return conf.numShufflePartitions()
        elif kind == "LogicalRelation":
            return _file_splits(df, node)
        elif kind == "LogicalRDD":
            return node.rdd().getNumPartitions()
        elif kind == "Range":
            slices = node.numSlices()
            if slices.isDefined():
                return slices.get()
            return df._jdf.sparkSession().leafNodeDefaultParallelism()
        else:
            return 0


def _broadcast_hinted(hint) -> bool:
    return (
        hint.isDefined()
        and hint.get().strategy().isDefined()
        and hint.get().strategy().get().displayName() == "broadcast"
    )


def _file_splits(df: DataFrame, relation) -> int:
    """Splits of a file scan, as Spark's file-partition packing makes
    them for one splittable file of the relation's size: at most
    ``maxPartitionBytes`` each, and no smaller than the open cost or
    the bytes spread over the leaf parallelism. Many small files pack
    into more splits than that, so the estimate errs toward adding an
    exchange. A large file that cannot be split (gzip text) runs as one
    split but reads here as many."""
    if relation.relation().getClass().getSimpleName() != "HadoopFsRelation":
        return 0
    conf = _sql_conf(df)
    nbytes = int(relation.stats().sizeInBytes())
    open_cost = conf.filesOpenCostInBytes()
    min_splits = conf.filesMinPartitionNum()
    per_core = (nbytes + open_cost) // (
        min_splits.get()
        if min_splits.isDefined()
        else df._jdf.sparkSession().leafNodeDefaultParallelism()
    )
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    return max(1, -(-nbytes // split))


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` into
    :func:`derived_shuffle_partitions` partitions, when its plan would
    leave cores idle.

    A small source read as one split keeps everything downstream of it
    on one task until the first shuffle; a row-multiplying step there
    (an explode) then runs on one core. The exchange is added only
    when the plan runs on fewer partitions than ``min(count, cores)``:
    a large scan already has a split per core or more, and
    re-partitioning it would only move bytes. Both counts are read
    from the one optimized plan, so deciding plans nothing physical.
    Hashing on the key (not round-robin) lets a later per-key
    aggregate reuse the partitioning instead of planning its own
    exchange."""
    n = derived_shuffle_partitions(df)
    if planned_partitions(df) >= min(n, _cores()):
        return df
    return df.repartition(n, *keys)
