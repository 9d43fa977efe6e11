"""Streaming-layer semantics the oracle harness can't see directly:
micro-batch structure, merge idempotency/batching-invariance (ST2), and
error containment (ST4/P6)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from financial_tracker_etl_spark.streaming.jobs import (
    MARKET_JOB,
    TOPIC_MARKET,
)
from financial_tracker_etl_spark.streaming.pipeline import run_routed_pipeline
from financial_tracker_etl_spark.streaming.state import KeyedParquetState

from conftest import SF_DIR


@pytest.fixture(scope="module")
def pipeline(spark):
    return run_routed_pipeline(spark, SF_DIR, files_per_trigger=2, n_files=6)


def test_pipeline_ran_in_multiple_microbatches(pipeline):
    # maxFilesPerTrigger=2 over 6 files => at least 3 micro-batches,
    # proving the merges really folded incrementally (ST1)
    assert pipeline.n_batches >= 3


def test_dead_letter_and_empty_containment(pipeline):
    """Corrupt payloads land in dead_letter, blank ones in
    skipped_empty; neither kills the stream nor reaches the state
    (reference behavior: etl/main.py:151-153, 178-197)."""
    totals = (
        pipeline.completions.groupBy("topic")
        .agg(
            F.sum("dead_letter").alias("dead"),
            F.sum("skipped_empty").alias("empty"),
            F.sum("invalid_records").alias("invalid"),
        )
        .collect()
    )
    by_topic = {r["topic"]: r for r in totals}
    assert by_topic[TOPIC_MARKET]["dead"] > 0
    assert by_topic[TOPIC_MARKET]["empty"] > 0
    assert by_topic[TOPIC_MARKET]["invalid"] > 0
    # no corrupt symbol ever reached the market state
    state = pipeline.states[TOPIC_MARKET].read()
    assert state.filter(F.col("symbol").startswith("{")).count() == 0


def test_merge_is_idempotent(spark, tmp_path):
    """Replaying the same batch (checkpoint recovery) must not change
    state — the exactly-once-on-keys guarantee (ST2)."""
    store = KeyedParquetState(
        spark, os.path.join(str(tmp_path), "s"), ["k"], ["v"]
    )
    batch = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)], "k string, v int, x double"
    )
    store.merge(batch)
    first = sorted(store.read().collect())
    store.merge(batch)  # replay
    assert sorted(store.read().collect()) == first
    assert first == [("a", 2, 20.0), ("b", 1, 5.0)]


def test_merge_is_batching_invariant(spark, tmp_path):
    """Any micro-batch split of the same updates folds to the same
    state (what makes the stream_* oracles valid at any trigger)."""
    rows = [("a", i, float(i)) for i in range(1, 8)] + [
        ("b", i, float(-i)) for i in range(1, 5)
    ]
    schema = "k string, v int, x double"

    one = KeyedParquetState(spark, os.path.join(str(tmp_path), "one"), ["k"], ["v"])
    one.merge(spark.createDataFrame(rows, schema))

    many = KeyedParquetState(spark, os.path.join(str(tmp_path), "many"), ["k"], ["v"])
    for i in range(0, len(rows), 3):
        many.merge(spark.createDataFrame(rows[i : i + 3], schema))

    assert sorted(one.read().collect()) == sorted(many.read().collect())


def test_market_job_parse_routes_corrupt_to_dead_letter(spark):
    batch = spark.createDataFrame(
        [
            (TOPIC_MARKET, '{"quote_id": 1, "symbol": "SYM1", "close": "1.00"}'),
            (TOPIC_MARKET, "{corrupt::SYM2"),
            (TOPIC_MARKET, "  "),
            (TOPIC_MARKET, None),
            ("other-topic", "{}"),
        ],
        "topic string, payload string",
    )
    parsed, dead = MARKET_JOB.parse(batch)
    # blank/NULL payloads are P6 empty-skips — in NEITHER output (the
    # routed pipeline's classify_all agrees), not dead letters
    assert parsed.count() == 1 and dead.count() == 1


def test_watermark_closes_only_final_windows(spark):
    from financial_tracker_etl_spark.catalog import load_table
    from financial_tracker_etl_spark.streaming.windows import (
        WATERMARK_DELAY_US,
        hourly_rollup_stream,
    )

    got = hourly_rollup_stream(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    max_us = ev.agg(F.max("ts_us")).collect()[0][0]
    open_cutoff = max_us - WATERMARK_DELAY_US
    # emitted windows all closed before the final watermark
    assert got.filter(F.col("hour_us") + 3_600_000_000 > open_cutoff).count() == 0
    # and the still-open tail was genuinely withheld
    batch_hours = ev.select(
        (F.col("ts_us") - F.col("ts_us") % 3_600_000_000).alias("h")
    ).distinct()
    assert batch_hours.count() > got.select("hour_us").distinct().count()


def test_approx_distinct_within_error_bound(spark):
    """approx_count_distinct (HLL) — the at-scale cardinality path —
    must land within its documented rsd of the exact count."""
    from financial_tracker_etl_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(3, 0.15 * row["exact"])


def test_pipeline_rerun_is_idempotent_end_to_end(spark, tmp_path):
    """Re-running the WHOLE pipeline over the same work dir (checkpoint
    + state intact) must leave every state identical — whether the
    checkpointed file index skips the files or the merges replay, the
    fold is idempotent. This is the ST2 exactly-once-on-keys claim made
    end-to-end, not per-operator."""
    import os

    from financial_tracker_etl_spark.streaming.pipeline import (
        TOPIC_MARKET,
        run_routed_pipeline,
    )

    wd = os.path.join(str(tmp_path), "wd")
    first = run_routed_pipeline(spark, SF_DIR, work_dir=wd)
    state1 = sorted(map(tuple, first.state_df(TOPIC_MARKET).collect()))
    second = run_routed_pipeline(spark, SF_DIR, work_dir=wd)
    state2 = sorted(map(tuple, second.state_df(TOPIC_MARKET).collect()))
    assert state1 == state2


def test_index_and_monthly_states_equal_batch_fixtures(spark):
    """S10/S11's registry twins (stream_upsert_index_data /
    stream_upsert_monthly) were retired in round 4 — they observed the
    same shared-pipeline run and keyed merge as the market topic. The
    state ≡ batch-fixture equality their oracles certified lives here
    instead, against the same shared run the remaining stream queries
    observe."""
    from financial_tracker_etl_spark import fixtures
    from financial_tracker_etl_spark.catalog import load_table
    from financial_tracker_etl_spark.queries.stream import shared_pipeline
    from financial_tracker_etl_spark.streaming.jobs import (
        TOPIC_HISTORICAL,
        TOPIC_INDEX,
    )

    pipe = shared_pipeline(spark, SF_DIR)
    # the run's self-allocated scratch dir is registered for the
    # atexit reaper (a test/verify session otherwise strands one
    # ~8 MB state dir per pipeline run)
    from financial_tracker_etl_spark.streaming import pipeline as pl

    assert pipe.work_dir in pl._OWNED_WORK_DIRS
    idx = pipe.state_df(TOPIC_INDEX)
    want_idx = fixtures.market_index_data(
        load_table(spark, SF_DIR, "supplier")
    ).select(*idx.columns)
    assert sorted(map(tuple, idx.collect())) == sorted(
        map(tuple, want_idx.collect())
    )
    mon = pipe.state_df(TOPIC_HISTORICAL)
    want_mon = fixtures.market_data_monthly(
        load_table(spark, SF_DIR, "lineitem")
    ).select(*mon.columns)
    assert sorted(map(tuple, mon.collect())) == sorted(
        map(tuple, want_mon.collect())
    )


def test_crash_mid_stream_resumes_from_checkpoint(spark, tmp_path):
    """A foreachBatch failure kills the query AFTER some batches have
    merged; restarting against the SAME checkpoint must resume from
    the failed batch (replaying it, since its offsets never committed)
    and converge to exactly the state a clean single-pass run produces.
    This is ST2 proven through an actual crash: checkpointed source
    offsets bound the replay to one batch, and the idempotent keyed
    merge makes that replay harmless."""
    from financial_tracker_etl_spark.streaming.jobs import REQUEST_SCHEMA
    from financial_tracker_etl_spark.streaming.pipeline import (
        TOPIC_MARKET,
        staged_request_dir,
    )
    from financial_tracker_etl_spark.streaming.state import LogStructuredState

    input_dir = staged_request_dir(
        spark, SF_DIR, n_files=4, topics=(TOPIC_MARKET,)
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    state = LogStructuredState(
        spark,
        os.path.join(str(tmp_path), "state"),
        MARKET_JOB.keys,
        MARKET_JOB.version_cols,
    )
    merged_batches: list[int] = []

    def run(crash_at):
        def handle(batch, bid):
            if crash_at is not None and bid >= crash_at:
                raise RuntimeError("injected crash")
            parsed, _dead = MARKET_JOB.parse(batch)
            valid, _invalid = MARKET_JOB.split(parsed)
            state.merge(MARKET_JOB.transform(valid))
            merged_batches.append(int(bid))

        q = (
            spark.readStream.schema(REQUEST_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(input_dir)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="injected crash"):
        run(crash_at=2)
    assert merged_batches == [0, 1]  # two batches landed before the crash
    run(crash_at=None)
    # the resume REPLAYS the uncommitted batch 2, then continues — it
    # must not start over from batch 0
    assert merged_batches == [0, 1, 2, 3]

    got = sorted(
        map(tuple, state.read_merged().drop("_ver_seq").collect())
    )
    clean = LogStructuredState(
        spark,
        os.path.join(str(tmp_path), "state_clean"),
        MARKET_JOB.keys,
        MARKET_JOB.version_cols,
    )
    whole = spark.read.schema(REQUEST_SCHEMA).json(input_dir)
    parsed, _dead = MARKET_JOB.parse(whole)
    valid, _invalid = MARKET_JOB.split(parsed)
    clean.merge(MARKET_JOB.transform(valid))
    want = sorted(
        map(tuple, clean.read_merged().drop("_ver_seq").collect())
    )
    assert got == want


def test_st6_scheduled_index_tick(spark):
    """ST6 (reference etl/scheduler.py): one scheduled firing runs the
    index job through the shared AvailableNow pipeline; firing twice is
    idempotent (keyed merge). seconds_until is the pure next-fire
    arithmetic the daily loop sleeps on."""
    import datetime as dt

    from financial_tracker_etl_spark.streaming.jobs import TOPIC_INDEX
    from financial_tracker_etl_spark.streaming.scheduler import (
        run_index_tick,
        seconds_until,
    )

    first = run_index_tick(spark, SF_DIR)
    n_suppliers = first.state_df(TOPIC_INDEX).count()
    assert n_suppliers > 0
    assert first.completions.filter(
        F.col("topic") != TOPIC_INDEX
    ).count() == 0  # index tick touches ONLY the index topic

    again = run_index_tick(spark, SF_DIR)
    assert again.state_df(TOPIC_INDEX).count() == n_suppliers

    now = dt.datetime(2024, 1, 2, 15, 0, 0)
    assert seconds_until("16:00", now) == 3600.0
    assert seconds_until("14:00", now) == 23 * 3600.0  # tomorrow


def test_versioned_state_time_travel_and_change_feed(spark, tmp_path):
    """VERSION AS OF semantics: snapshot v equals folding exactly the
    first v+1 deltas; a replayed identical batch commits a new delta
    but changes no snapshot (LWW max is idempotent); the change feed
    between versions classifies inserts/updates/unchanged correctly."""
    from financial_tracker_etl_spark.streaming.state import (
        KeyedParquetState,
        VersionedLogState,
    )

    def df(rows):
        return spark.createDataFrame(
            rows, "k string, val double, ver long"
        )

    b0 = df([("a", 1.0, 1), ("b", 2.0, 1)])
    b1 = df([("b", 9.0, 2), ("c", 3.0, 1)])  # update b, insert c
    b2 = df([("a", 5.0, 3)])  # update a

    state = VersionedLogState(
        spark, os.path.join(str(tmp_path), "vstate"), ["k"], ["ver"]
    )
    assert state.merge(b0) == 0
    assert state.merge(b1) == 1
    assert state.merge(b2) == 2

    def snap(v):
        return sorted(map(tuple, state.read_as_of(v).collect()))

    assert snap(0) == [("a", 1.0, 1), ("b", 2.0, 1)]
    assert snap(1) == [("a", 1.0, 1), ("b", 9.0, 2), ("c", 3.0, 1)]
    assert snap(2) == [("a", 5.0, 3), ("b", 9.0, 2), ("c", 3.0, 1)]
    assert sorted(map(tuple, state.read_merged().collect())) == snap(2)

    # as-of(v) ≡ a rewrite-state folded with the same prefix of batches
    ref = KeyedParquetState(
        spark, os.path.join(str(tmp_path), "ref"), ["k"], ["ver"]
    )
    ref.merge(b0)
    ref.merge(b1)
    assert sorted(map(tuple, ref.read_merged().collect())) == snap(1)

    # replaying an identical batch: new delta, no snapshot change
    assert state.merge(b2) == 3
    assert snap(3) == snap(2)

    feed = {
        r.k: r.change_type
        for r in state.change_feed(0, 1).collect()
    }
    assert feed == {"a": "unchanged", "b": "updated", "c": "inserted"}


def test_transform_with_state_api_boundary(spark):
    """``transformWithStateInPandas`` (the applyInPandasWithState
    successor — the old API is deprecated upstream) is fully ported:
    ``streaming.stateful`` implements the EWMA on BOTH APIs over one
    shared fold, and ``ewma_stream(api="auto")`` picks by capability
    probe. Its runtime speaks protobuf to a driver-side state server;
    in a container without google.protobuf only the legacy path can
    execute, so the equivalence half of this test skips (same pattern
    as the Kafka classpath pin) — the day the environment grows
    protobuf it runs with zero code change."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from financial_tracker_etl_spark.streaming.stateful import (
        _EwmaProcessor,
        ewma_stream,
        transform_with_state_available,
    )

    assert hasattr(PandasGroupedOpsMixin, "transformWithStateInPandas")
    assert hasattr(PandasGroupedOpsMixin, "applyInPandasWithState")
    # the processor twin constructs without protobuf (only the
    # streaming runtime needs it) and exposes the StatefulProcessor
    # surface the new API drives
    proc = _EwmaProcessor()
    assert callable(proc.init) and callable(proc.handleInputRows)
    if not transform_with_state_available():
        pytest.skip(
            "protobuf absent: transformWithState runtime unavailable here"
        )
    new = ewma_stream(spark, SF_DIR, api="transformWithState")
    old = ewma_stream(spark, SF_DIR, api="applyInPandasWithState")
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_tombstone_state_deletes_survive_replay_and_compaction(spark, tmp_path):
    """Delete semantics on the log-structured state: a tombstone
    out-versions older updates, so (a) the key leaves the logical
    state, (b) an at-least-once REPLAY of the older update cannot
    resurrect it, (c) compaction retains the tombstone so the replay
    stays harmless afterwards too, and (d) a HIGHER-versioned re-insert
    brings the key back."""
    import os

    from financial_tracker_etl_spark.streaming.state import TombstoneLogState

    state = TombstoneLogState(
        spark,
        os.path.join(str(tmp_path), "state"),
        keys=["symbol"],
        version_cols=["updated_at"],
        compact_every=100,  # manual compaction below
    )
    rows = spark.createDataFrame(
        [("AAA", 10.0, 1), ("BBB", 20.0, 1)],
        "symbol string, price double, updated_at long",
    )
    state.merge(rows)
    dels = spark.createDataFrame(
        [("AAA", None, 2)], "symbol string, price double, updated_at long"
    )
    state.merge_deletes(dels)
    assert [r.symbol for r in state.read_merged().collect()] == ["BBB"]
    # (b) replay the ORIGINAL batch (older version): key must stay gone
    state.merge(rows)
    assert [r.symbol for r in state.read_merged().collect()] == ["BBB"]
    # (c) compaction keeps the tombstone; replay again afterwards
    state.compact()
    state.merge(rows)
    assert [r.symbol for r in state.read_merged().collect()] == ["BBB"]
    # (d) higher-versioned re-insert wins over the tombstone
    state.merge(
        spark.createDataFrame(
            [("AAA", 11.0, 3)], "symbol string, price double, updated_at long"
        )
    )
    got = {r.symbol: r.price for r in state.read_merged().collect()}
    assert got == {"AAA": 11.0, "BBB": 20.0}


def test_tombstone_combined_flag_merge_equals_split_merges(spark, tmp_path):
    """The r16 stream_cdc_apply optimization folds each micro-batch's
    updates AND deletes into ONE merge with the tombstone flag computed
    inline, instead of merge(updates) + merge_deletes(deletes). Pin the
    equivalence: both forms leave the identical logical state, for a
    batch mixing inserts, updates and deletes."""
    import os

    from pyspark.sql import functions as F

    from financial_tracker_etl_spark.streaming.state import TombstoneLogState

    seed = spark.createDataFrame(
        [("AAA", 10.0, 0), ("BBB", 20.0, 0), ("CCC", 30.0, 0)],
        "symbol string, price double, ver long",
    )
    batch = spark.createDataFrame(
        [
            ("AAA", 11.0, 1, "updated"),
            ("BBB", None, 1, "deleted"),
            ("DDD", 40.0, 1, "inserted"),
        ],
        "symbol string, price double, ver long, change_type string",
    )

    def run(split: bool) -> list[tuple]:
        state = TombstoneLogState(
            spark,
            os.path.join(str(tmp_path), f"state_{split}"),
            keys=["symbol"],
            version_cols=["ver"],
        )
        state.merge(seed)
        if split:
            state.merge(
                batch.filter(F.col("change_type") != "deleted").drop(
                    "change_type"
                )
            )
            state.merge_deletes(
                batch.filter(F.col("change_type") == "deleted").drop(
                    "change_type"
                )
            )
        else:
            state.merge(
                batch.withColumn(
                    TombstoneLogState.TOMBSTONE,
                    F.col("change_type") == "deleted",
                ).drop("change_type")
            )
        return sorted(map(tuple, state.read_merged().collect()))

    combined, split_form = run(False), run(True)
    assert combined == split_form
    assert [r[0] for r in combined] == ["AAA", "CCC", "DDD"]


def test_tombstone_state_null_deleted_flag_means_not_deleted(spark, tmp_path):
    """A feed that CARRIES the _deleted column but leaves it NULL (the
    unionByName(allowMissingColumns=True) shape) means 'not deleted':
    without write-time normalization, the read filter's three-valued
    ~NULL would silently drop never-deleted keys."""
    from financial_tracker_etl_spark.streaming.state import TombstoneLogState

    state = TombstoneLogState(
        spark,
        os.path.join(str(tmp_path), "state"),
        keys=["symbol"],
        version_cols=["ver"],
    )
    rows = spark.createDataFrame(
        [("AAA", 10.0, 1, None), ("BBB", 20.0, 1, True)],
        "symbol string, price double, ver long, _deleted boolean",
    )
    state.merge(rows)
    got = {r.symbol: r.price for r in state.read_merged().collect()}
    assert got == {"AAA": 10.0}  # NULL flag kept; True flag deleted


def test_versioned_state_merge_fails_fast_without_success_marker(
    spark, tmp_path
):
    """_SUCCESS is the commit record this log recovers by. If the
    committer is configured not to write it
    (mapreduce.fileoutputcommitter.marksuccessfuljobs=false, common on
    object-store committers), every committed delta would be invisible,
    merge() would reclaim the same version forever, and reads would
    silently return empty state — so merge must raise at WRITE time
    instead."""
    import pytest

    from financial_tracker_etl_spark.streaming.state import VersionedLogState

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prev = hconf.get(key)
    state = VersionedLogState(
        spark,
        os.path.join(str(tmp_path), "state"),
        keys=["k"],
        version_cols=["ver"],
    )
    batch = spark.createDataFrame(
        [("a", 1.0, 1)], "k string, val double, ver long"
    )
    try:
        hconf.set(key, "false")
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            state.merge(batch)
    finally:
        hconf.set(key, prev if prev is not None else "true")
    # with markers restored the same merge commits cleanly
    assert state.merge(batch) == 0
    assert state.versions() == [0]


def test_versioned_state_ignores_uncommitted_delta(spark, tmp_path):
    """Only _SUCCESS-marked delta dirs are committed: a crashed partial
    write is invisible to reads AND the next merge claims its version
    number (overwriting the partial) instead of committing on top of
    corruption — the table-format commit-log rule in miniature."""
    import shutil

    from financial_tracker_etl_spark.streaming.state import VersionedLogState

    state = VersionedLogState(
        spark,
        os.path.join(str(tmp_path), "state"),
        keys=["k"],
        version_cols=["ver"],
    )
    v0 = state.merge(
        spark.createDataFrame([("a", 1.0, 1)], "k string, val double, ver long")
    )
    assert v0 == 0
    # simulate a crashed writer: a delta=1 dir without _SUCCESS
    v1 = state.merge(
        spark.createDataFrame([("a", 9.0, 2)], "k string, val double, ver long")
    )
    os.remove(os.path.join(str(tmp_path), "state", "delta=1", "_SUCCESS"))
    assert state.versions() == [0]
    assert {r.k: r.val for r in state.read_merged().collect()} == {"a": 1.0}
    # the next commit reclaims version 1, replacing the partial dir
    v1b = state.merge(
        spark.createDataFrame([("a", 5.0, 3)], "k string, val double, ver long")
    )
    assert (v1, v1b) == (1, 1)
    assert state.versions() == [0, 1]
    assert {r.k: r.val for r in state.read_merged().collect()} == {"a": 5.0}


def test_scratch_tags_distinct_for_colliding_paths():
    """'/data/sf1' and '/data_sf1' flatten to the same readable tag;
    the digest suffix must keep their staged traffic/seed separate."""
    from financial_tracker_etl_spark.streaming.pipeline import _sf_tag

    assert _sf_tag("/data/sf1") != _sf_tag("/data_sf1")
    assert _sf_tag("/data/sf1") == _sf_tag("/data/sf1")


def test_scheduler_reuses_one_work_dir_across_ticks(spark):
    """A run-forever scheduler must not leak one scratch state dir per
    tick: both ticks share the work dir, so tick 2 replays against the
    REAL prior state (same checkpoint -> no new files -> state carried
    unchanged) and exits cleanly."""
    import glob

    from financial_tracker_etl_spark.streaming.scheduler import (
        schedule_index_job,
    )

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "ftes_sched_*")))
    rc = schedule_index_job(
        spark,
        SF_DIR,
        once=False,
        max_ticks=2,
        sleep_fn=lambda s: None,
    )
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "ftes_sched_*")))
    assert rc == 0
    assert len(after - before) == 1  # exactly ONE shared scratch dir


def test_input_dir_override_replays_identical_traffic(spark, tmp_path, pipeline):
    """`run_routed_pipeline(input_dir=...)` (the hook replicated-traffic
    runs use, e.g. the perfbench request stream and the BASELINE.md
    round-12 stream ladder) must feed the identical consume
    pipeline: an explicitly staged copy of the same traffic produces
    byte-identical final states and completion totals as the default
    staged path."""
    from financial_tracker_etl_spark.streaming.pipeline import (
        request_messages,
    )

    indir = str(tmp_path / "traffic")
    msgs = request_messages(spark, SF_DIR)
    msgs.repartition(6, F.col("payload")).write.mode("overwrite").json(indir)
    res = run_routed_pipeline(
        spark,
        SF_DIR,
        work_dir=str(tmp_path / "work"),
        input_dir=indir,
        files_per_trigger=2,
        n_files=6,
    )
    for topic in res.states:
        got = res.state_df(topic)
        want = pipeline.state_df(topic)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    got_tot = (
        res.completions.groupBy("topic")
        .agg(F.sum("records").alias("n"))
        .collect()
    )
    want_tot = (
        pipeline.completions.groupBy("topic")
        .agg(F.sum("records").alias("n"))
        .collect()
    )
    assert {(r["topic"], r["n"]) for r in got_tot} == {
        (r["topic"], r["n"]) for r in want_tot
    }


def test_event_time_ingest_bound_drops_warped_rows(spark, tmp_path):
    """Watermark-poisoning guard (round-16 timewarp class): ONE
    far-future instant entering the stream advances the watermark past
    every genuine event and silently drops them as late, so the ingest
    stage rejects events outside [1990, 2100) — while NULL event times
    keep flowing (their handling is each operator's documented
    business, pinned round 15)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from financial_tracker_etl_spark.streaming.windows import (
        _run_to_table,
        events_stream,
    )

    ts = pa.array(
        [
            dt.datetime(2200, 6, 1),  # beyond HI: the poisoning instant
            dt.datetime(1955, 11, 5),  # below LO: pre-epoch noise
            dt.datetime(1995, 6, 1),  # genuine
            dt.datetime(2024, 1, 1, 23, 59, 59),  # genuine, near fixture max
            None,  # null event time: must keep flowing
        ],
        pa.timestamp("us"),
    )
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 11, 12, 13, 14], pa.int64()),
            "event_type": ["view", "view", "click", "view", "click"],
            "value": pa.array([1.0, 2.0, 3.0, 4.0, 5.0], pa.float64()),
            "props": ['{"k": 1}'] * 5,
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(tbl, str(sf / "events.parquet"))

    got = _run_to_table(events_stream(spark, str(sf)), spark, "append")
    assert sorted(r["event_id"] for r in got.collect()) == [3, 4, 5]
    # the null-ts row really is the one with ts_us NULL
    assert got.filter(F.col("ts_us").isNull()).collect()[0]["event_id"] == 5


def test_scoped_shuffle_partitions_restores(spark):
    from financial_tracker_etl_spark.streaming.windows import (
        scoped_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before


def test_seed_from_files_owns_layout_and_validates(spark, tmp_path):
    """r16 advisory: state seeding goes through a layout-owning method
    that validates the seed schema (keys + versions + tombstone flag),
    counts the delta toward compaction, and refuses a non-empty or
    already-seeded target."""
    import pytest
    from pyspark.sql import functions as F

    from financial_tracker_etl_spark.streaming.state import (
        TombstoneLogState,
    )

    seed_ok = spark.createDataFrame(
        [("A", 1, 10.0, False)], "k string, _ver int, v double, _deleted boolean"
    )
    seed_dir = str(tmp_path / "seed")
    seed_ok.coalesce(1).write.parquet(seed_dir)

    st = TombstoneLogState(
        spark, str(tmp_path / "state"), keys=["k"], version_cols=["_ver"]
    )
    st.seed_from_files(seed_dir)
    assert st._n_deltas == 1
    assert [r["k"] for r in st.read_merged().collect()] == ["A"]
    # second seed refused: bootstrap only
    with pytest.raises(ValueError, match="non-empty"):
        st.seed_from_files(seed_dir)

    # tombstone-less seed refused for the tombstone store (a NULL/
    # missing flag would silently drop never-deleted keys at read)
    bad_dir = str(tmp_path / "bad_seed")
    seed_ok.drop("_deleted").write.parquet(bad_dir)
    st2 = TombstoneLogState(
        spark, str(tmp_path / "state2"), keys=["k"], version_cols=["_ver"]
    )
    with pytest.raises(ValueError, match="_deleted"):
        st2.seed_from_files(bad_dir)
    # the merged fold over a seeded state keeps LWW semantics
    st.merge(
        spark.createDataFrame(
            [("A", 2, 11.0)], "k string, _ver int, v double"
        ).withColumn("_deleted", F.lit(False))
    )
    assert [r["v"] for r in st.read_merged().collect()] == [11.0]


def test_seed_from_files_rejects_null_tombstone_flag(spark, tmp_path):
    """A copied seed bypasses merge()'s NULL-to-False normalization, and
    read_merged's ~_deleted filter would drop a never-deleted key whose
    flag is NULL; the tombstone store refuses such a seed."""
    from financial_tracker_etl_spark.streaming.state import (
        TombstoneLogState,
    )

    seed_dir = str(tmp_path / "seed")
    spark.createDataFrame(
        [("A", 1, 10.0, False), ("B", 1, 20.0, None)],
        "k string, _ver int, v double, _deleted boolean",
    ).coalesce(1).write.parquet(seed_dir)
    st = TombstoneLogState(
        spark, str(tmp_path / "state"), keys=["k"], version_cols=["_ver"]
    )
    with pytest.raises(ValueError, match="NULL values in \\['_deleted'\\]"):
        st.seed_from_files(seed_dir)
    # refused before any file lands: the state is still empty
    assert not st.exists() or not any(
        f.endswith(".parquet") for f in os.listdir(st.path)
    )
    assert st._n_deltas == 0
