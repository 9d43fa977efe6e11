"""Shuffle/spill contract over every bench-flagged registry query.

The suite asserts at sf0.01, on uniform and on hub-skewed input, that
the bench set is spill-free with bounded exchanges, so a plan change
that introduces a fat shuffle or a spill fails here. Each query is
measured two ways:

- the final adaptive plan's SQLMetrics (``plan_io_summary``, each
  physical node counted once): zero operator spill and a per-query
  max-exchange ceiling;
- the stage records of every job the query launched, read from the
  driver's status store with the UI off (``stage_delta_metrics``):
  zero task spill, memory and disk, which includes shuffle-write
  spill, and a per-query max-stage shuffle-write ceiling.

The stage path also sees jobs behind persisted or checkpointed
intermediates, which the final plan hides behind InMemoryTableScan:
purchase_graph_pagerank and minhash_lsh_near_dups report 0 on the
plan path but 923,619 B and 85,722 B max stage shuffle write here.

Every ceiling was set at >=4x a value measured at sf0.01, with a 1 MB
floor, so row-count jitter passes and a shape regression (a projection
lost before a shuffle, a broadcast demoted to exchange-both-sides)
fails. The exchange ceilings come from the BASELINE.md round-14 table;
the stage ceilings from measurements of the current tree.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_tracker_etl_spark.profile import (  # noqa: E402
    NodeMetrics,
    StageRecordsEvicted,
    collect_metrics,
    plan_io_summary,
    stage_delta_metrics,
    stage_snapshot,
    stage_totals,
)

SF_DIR = "/root/testdata/sf0.01"

KB = 1024
MB = 1024 * KB

# Max single-exchange ceiling per bench query at sf0.01 (bytes).
# Round-14 measured values (BASELINE.md): largest was
# duplicate_span_stats at 983,541 B; most are KB-scale. Ceilings are
# >=4x measured with a 1 MB floor so ordinary row-count jitter never
# trips, while a shape regression (e.g. a projection lost before a
# shuffle, a broadcast demoted to exchange-both-sides) does.
DEFAULT_CEILING = 1 * MB
EXCHANGE_CEILING = {
    "doc_price_indicators": 2 * MB,  # measured 379,880
    "stream_upsert_market_data": 2 * MB,  # measured 322,246
    "asof_quote_join": 2 * MB,  # measured 420,160
    "events_hourly_rollup": 2 * MB,  # measured 258,166
    "top_revenue_customers": 2 * MB,  # measured 281,083
    "duplicate_span_stats": 4 * MB,  # measured 983,541
}

# Max single-stage shuffle write per bench query at sf0.01 (bytes),
# over every job the query ran. Measured values are the larger of the
# uniform and skewed runs; ceilings follow the same >=4x / 1 MB rule.
DEFAULT_STAGE_CEILING = 1 * MB
STAGE_SHUFFLE_CEILING = {
    "duplicate_span_stats": 6 * MB,  # measured 1,405,510
    "stream_upsert_market_data": 5 * MB,  # measured 1,099,340 (skewed)
    "purchase_graph_pagerank": 4 * MB,  # measured 923,619
    "doc_price_indicators": 3 * MB,  # measured 681,632 (skewed)
    "asof_quote_join": 2 * MB,  # measured 420,160
    "top_revenue_customers": 2 * MB,  # measured 281,083
    "events_hourly_rollup": 2 * MB,  # measured 258,166
}


def _bench_specs():
    from financial_tracker_etl_spark.queries import registry

    return {
        name: spec
        for name, spec in registry().items()
        if spec.bench or spec.bench_tail
    }


def _audit_bench_set(spark, sf_dir: str) -> list[str]:
    """Run every bench query on ``sf_dir`` and return its contract
    violations, plan path and stage path both."""
    specs = _bench_specs()
    assert len(specs) == 19, sorted(specs)
    failures = []
    for name, spec in specs.items():
        spark.catalog.clearCache()
        mark = stage_snapshot(spark)  # before fn: fn runs eager jobs
        summary = plan_io_summary(collect_metrics(spec.fn(spark, sf_dir)))
        stages = stage_delta_metrics(spark, mark)
        if summary["spill_bytes"] != 0:
            failures.append(f"{name}: operator spill {summary['spill_bytes']} B")
        ceiling = EXCHANGE_CEILING.get(name, DEFAULT_CEILING)
        if summary["shuffle_max_exchange_bytes"] > ceiling:
            failures.append(
                f"{name}: max exchange {summary['shuffle_max_exchange_bytes']} B"
                f" > ceiling {ceiling} B"
            )
        spill = stages["memoryBytesSpilled"] + stages["diskBytesSpilled"]
        if spill != 0:
            failures.append(f"{name}: task spill {spill} B")
        ceiling = STAGE_SHUFFLE_CEILING.get(name, DEFAULT_STAGE_CEILING)
        if stages["max_stage_shuffle_write_bytes"] > ceiling:
            failures.append(
                f"{name}: max stage shuffle write"
                f" {stages['max_stage_shuffle_write_bytes']} B > ceiling {ceiling} B"
            )
    return failures


def test_bench_set_spill_free_and_exchanges_bounded(spark):
    failures = _audit_bench_set(spark, SF_DIR)
    assert not failures, "\n".join(failures)


def test_plan_io_summary_skips_reused_subtrees():
    """Round-13 ADVICE low: ReusedExchange descends into the ORIGINAL
    subtree (same accumulators), so naive summing counted each reused
    exchange/scan twice. plan_io_summary must count flagged nodes
    zero times and everything else once."""
    rows = [
        NodeMetrics(0, "Project", {}),
        NodeMetrics(1, "Exchange", {"shuffleBytesWritten": 100}),
        NodeMetrics(2, "Scan parquet", {"filesSize": 1000}),
        NodeMetrics(1, "ReusedExchange", {"shuffleBytesWritten": 100}, True),
        NodeMetrics(2, "Exchange", {"shuffleBytesWritten": 100}, True),
        NodeMetrics(3, "Scan parquet", {"filesSize": 1000}, True),
        NodeMetrics(1, "Sort", {"spillSize": 7}),
    ]
    s = plan_io_summary(rows)
    assert s["shuffle_total_bytes"] == 100
    assert s["n_exchanges"] == 1
    assert s["scan_bytes"] == 1000
    assert s["spill_bytes"] == 7
    assert s["shuffle_max_exchange_bytes"] == 100
    # empty plans degrade to zeros, never a ValueError (the r13 audit
    # script crashed on max() over an empty sequence)
    empty = plan_io_summary([])
    assert empty["shuffle_max_exchange_bytes"] == 0
    assert empty["n_exchanges"] == 0


def test_collect_metrics_flags_reused_descendants(spark):
    """A self-joined aggregate reuses one exchange subtree; the walk
    must flag the aliased copy so summers count the physical exchange
    once. Skips (never fails) if AQE happens not to produce a
    ReusedExchange for this shape on some future Spark version."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n"))
    )
    joined = df.alias("a").join(
        df.alias("b"), on="n_regionkey"
    )
    rows = collect_metrics(joined)
    names = [r.name for r in rows]
    if not any(n.startswith("Reused") for n in names):
        pytest.skip("plan produced no ReusedExchange on this version")
    reused = [r for r in rows if r.reused]
    assert reused, "Reused wrapper present but no descendant was flagged"
    # the wrapper row ITSELF is flagged (round-14 ADVICE low: an
    # unflagged wrapper would double-count if a future Spark surfaced
    # the original's aliased accumulators on it)
    assert all(r.reused for r in rows if r.name.startswith("Reused"))
    # the aliased subtree repeats a real exchange whose aliased
    # accumulators a naive sum double-counts — dedup must STRICTLY
    # shrink the total, or it has silently become a no-op
    assert any(
        r.reused and r.metrics.get("shuffleBytesWritten", 0) > 0
        for r in rows
    ), "reused subtree carries no aliased shuffle metric to dedup"
    naive = sum(
        r.metrics.get("shuffleBytesWritten", 0) for r in rows
    )
    deduped = plan_io_summary(rows)["shuffle_total_bytes"]
    assert deduped < naive


def test_stage_delta_metrics_counts_real_stages(spark):
    """The status-store delta sees the jobs and stages a groupBy ran,
    with the UI off, and a delta over no work is all zeros."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.ui.enabled") == "false"
    mark = stage_snapshot(spark)
    spark.range(0, 10_000, numPartitions=4).groupBy(
        (F.col("id") % 7).alias("k")
    ).count().collect()
    d = stage_delta_metrics(spark, mark)
    assert d["n_jobs"] >= 1
    assert d["n_stages"] >= 2  # map side + post-shuffle reduce
    assert d["shuffleWriteBytes"] > 0
    assert d["max_stage_shuffle_write_bytes"] > 0
    assert d["memoryBytesSpilled"] == d["diskBytesSpilled"] == 0

    idle = stage_delta_metrics(spark, stage_snapshot(spark))
    assert set(idle.values()) == {0}, idle


def test_stage_totals_raise_when_a_record_was_evicted():
    """Retention can drop the oldest job and stage records; a delta
    that spans a dropped job, or a dropped stage that ran, raises
    instead of returning short counts."""

    class _Store:
        def __init__(self):
            counts = {"numCompletedStages": 2, "numFailedStages": 0}
            self.jobs = {5: {"stageIds": [10, 11], **counts},
                         7: {"stageIds": [12, 13, 14], **counts}}
            self.stages = {
                12: [{"stageId": 12, "status": "COMPLETE", "shuffleWriteBytes": 1}],
                14: [{"stageId": 14, "status": "SKIPPED", "shuffleWriteBytes": 0}],
            }

        def job(self, job_id):
            return self.jobs[job_id]  # job 6 evicted: KeyError

        def stage_attempts(self, stage_id):
            return self.stages.get(stage_id, [])  # stage 13 evicted

    store = _Store()
    with pytest.raises(StageRecordsEvicted, match="job 6"):
        stage_totals(store, (5, 10), 8)
    with pytest.raises(StageRecordsEvicted, match=r"evicted stages \[13\]"):
        stage_totals(store, (7, 12), 8)
    # Spark drops skipped stages first: when the job ran only stage 12,
    # the missing stage 13 was skipped and the totals are complete;
    # skipped stages are not counted
    store.jobs[7]["numCompletedStages"] = 1
    d = stage_totals(store, (7, 12), 8)
    assert d["n_jobs"] == 1 and d["n_stages"] == 1
    assert d["shuffleWriteBytes"] == 1


def test_bench_set_spill_free_on_skewed_input(spark, tmp_path):
    """Round-16 VERDICT task 2(b): the zero-spill contract must hold
    when ~35% of events.user_id / lineitem.l_partkey / documents.source
    collapse onto one hub value (fuzz.py's ``skew`` class), not just on
    the uniform fixtures — a hub key concentrates one window/group
    partition with a third of the table, which is exactly where a
    sort-window or hash-agg starts spilling first. Exchange and stage
    shuffle ceilings are rechecked too (totals move only marginally:
    the same rows shuffle, just unevenly).

    Ledger note (BASELINE.md round-16): at sf0.01 no bench query needs
    the salted form under a 35% hub — zero spill across all 19; the
    round-9 salting threshold rule stays an escape hatch, now tested
    rather than documented-only."""
    from financial_tracker_etl_spark.fuzz import mutate_dir

    skew_dir = str(tmp_path / "skewed_sf001")
    mutate_dir(SF_DIR, skew_dir, seed=16, mutations=("skew",))
    failures = _audit_bench_set(spark, skew_dir)
    assert not failures, "(skewed)\n" + "\n".join(failures)
