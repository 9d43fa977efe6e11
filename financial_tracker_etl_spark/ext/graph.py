"""[EXT] Iterative graph analytics: PageRank by power iteration.

Complements ``ext.cluster.connected_components`` (label propagation)
with the other canonical large-graph primitive: damped random-walk
importance over a weighted directed graph. Entity-importance ranks
drive data curation the same way they drive search — e.g. rank
suppliers/customers by purchase-graph centrality, or documents by
citation/link mass — and at 100 TB the only viable formulation is
exactly this one: a per-iteration equi-join of the edge list with the
current rank vector plus a grouped sum, i.e. one shuffle per
iteration, never an adjacency matrix.

All arithmetic is integer ppm (rank mass scaled by 1e6, damping as an
exact ppm constant, truncating integer division) so a DuckDB oracle
that unrolls the same iterations hashes identically — the same
transcendental-free determinism trade the ext tier makes everywhere.

Scale notes: a :class:`~financial_tracker_etl_spark.ext.LineageCuts`
cut every second iteration (localCheckpoint by default; with the
checkpointDir conf set, a parquet write into the run's own directory —
executor-loss recoverable at one DFS write+read per cut) truncates the
rank vector's lineage (the connected-components lesson: without any
cut the plan grows O(iterations) and planning time explodes at scale;
a two-iteration uncut segment stays bounded while halving the
O(|nodes|) materialization passes). The
edge-with-out-weight side is instead ``persist``-ed pre-partitioned
and pre-sorted on ``src``: a cached ``InMemoryRelation`` KEEPS its
outputPartitioning/ordering (a ``localCheckpoint`` ``LogicalRDD`` does
not — measured: every iteration re-exchanged and re-sorted the full
edge list), so each iteration's edge⋈rank sort-merge join moves only
the O(|nodes|) rank vector, never the O(|edges|) big side. That is
the "pay one shuffle, reuse the partitioning every iteration" shape a
100 TB power iteration needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from . import LineageCuts


def stage_on_key(df: DataFrame, key: str) -> DataFrame:
    """Persist ``df`` hash-partitioned AND sorted on ``key`` — the
    staging every iterative operator here gives its static join side.

    A cached ``InMemoryRelation`` keeps outputPartitioning/ordering, so
    each round's sort-merge join against the staged side needs NO
    exchange and NO sort on it — only the small evolving vector moves.
    A ``localCheckpoint`` ``LogicalRDD`` does NOT keep layout (measured:
    every iteration re-exchanged and re-sorted the full edge list; the
    plan-guard test_persisted_staging_preserves_partitioning_for_
    iteration_joins pins both behaviors). Contract: the caller
    ``unpersist(blocking=False)``-s the result once its final output is
    materialized (a checkpoint independent of the cache)."""
    return (
        df.repartition(key)
        .sortWithinPartitions(key)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_ppm: int = 850_000,
    ckpt_every: int = 2,
) -> DataFrame:
    """(node, rank_ppm) after ``iters`` power iterations over weighted
    directed ``edges`` (columns ``src``, ``dst``, ``w``).

    rank'(v) = (1e6 - damping) div N
             + damping * sum_{(u,v)} (rank(u) * w(u,v) div W(u)) div 1e6

    with W(u) the total out-weight of u. Only nodes appearing as a
    source participate (callers wanting dangling-node handling should
    symmetrize their edge list first, as the purchase-graph query
    does — a symmetric graph has no dangling mass by construction).

    ``ckpt_every``: lineage-cut (and materialization) cadence for the
    rank vector. Cutting every iteration pays a full write+read of the
    O(|nodes|) vector per round; every 2nd round halves those passes
    while the uncut plan segment stays a bounded two-iteration tree
    (the O(iterations) plan blow-up only appears when lineage is never
    cut). Values are cadence-independent — checkpointing is not part
    of the arithmetic — pinned by the unchanged DuckDB oracle.
    """
    # Stage the edge-with-out-weight side as in :func:`stage_on_key` —
    # written out fused here because the out-weight window runs over
    # the SAME single repartition("src") shuffle (the old groupBy+join
    # paid a second); a stage_on_key call on the windowed frame would
    # add a redundant second exchange to the one-time staging job. The
    # persist alone already runs the upstream edge construction exactly
    # once (everything below reads the ew/nodes caches): the eager
    # edge-list localCheckpoint earlier rounds kept in front of it was
    # redundant (measured equal with it removed) and carried the
    # recoverability defect the round-5 advisory flagged on the pair
    # operators — checkpoint blocks are non-replicated, so an executor
    # loss failed the job instead of recomputing.
    cut = LineageCuts(edges.sparkSession)
    ew = (
        edges.select("src", "dst", "w")
        .repartition("src")
        .withColumn(
            "wout",
            F.sum("w").over(Window.partitionBy("src")).cast("long"),
        )
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # same partitioning: the distinct collapses within partitions,
    # and the persisted result stays clustered on the final-join key
    nodes = (
        ew.select(F.col("src").alias("node"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty graph: no sources, no ranks — return the result schema
        # with zero rows instead of seeding 1e6/0 (the driver-side
        # ZeroDivisionError the round-16 empty-relation fuzz axis hit;
        # the unrolled SQL oracle yields zero rows on the same input)
        ew.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        return nodes.withColumn("rank_ppm", F.lit(0).cast("long"))
    teleport_ppm = (1_000_000 - damping_ppm) // n_nodes
    p = cut(
        nodes.withColumn("p", F.lit(1_000_000 // n_nodes).cast("long"))
    )
    for i in range(iters):
        inc = (
            ew.join(p, ew["src"] == p["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("p * w div wout").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        p = nodes.join(inc, "node", "left").select(
            "node",
            (
                F.lit(teleport_ppm)
                + F.expr(f"{damping_ppm} * coalesce(s, 0L) div 1000000")
            ).cast("long").alias("p"),
        )
        if (i + 1) % ckpt_every == 0 or i == iters - 1:
            p = cut(p)
    # the final p is a materialized cut — the cached build-side
    # blocks are no longer needed by the returned frame
    ew.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    return p.select("node", F.col("p").alias("rank_ppm"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """(node, dist) minimum hop distance from the ``seeds`` node set
    (column ``node``) over directed ``edges`` (``src``, ``dst``),
    bounded at ``max_hops`` — breadth-first label relaxation, the
    reachability primitive beside PageRank's importance ranks.

    Each round is one edge⋈distance equi-join + a min-aggregation
    (same single-shuffle shape as the PageRank iteration), with
    a :class:`~financial_tracker_etl_spark.ext.LineageCuts` cut of the
    frontier's lineage per round and
    the static edge side staged via :func:`stage_on_key` so each
    round's join moves only the frontier, never the edge list.
    Relaxation is monotone (min over a growing candidate set), so
    arbitrary replays or batch splits converge to the same
    distances."""
    # stage_on_key's persist runs the upstream edge construction once;
    # no eager pre-checkpoint (lineage kept — see pagerank's note)
    cut = LineageCuts(edges.sparkSession)
    edges = stage_on_key(edges.select("src", "dst"), "src")
    dist = cut(
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )
    for _ in range(max_hops):
        hop = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + 1).cast("int").alias("dist"),
            )
        )
        dist = cut(
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
    # the final dist is a materialized cut — the cached edge
    # blocks are no longer needed by the returned frame
    edges.unpersist(blocking=False)
    return dist
