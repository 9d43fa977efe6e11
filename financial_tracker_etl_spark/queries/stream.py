"""Streaming queries (SURVEY.md §2.H ST1-ST7, §3.1).

``stream_upsert_market_data`` and ``stream_pipeline_completions``
observe ONE shared run of the routed request pipeline
(streaming.pipeline) — request JSON files → micro-batched file source →
topic routing → validate/dead-letter → keyed merge → completion rows.
(The index/monthly state twins were retired from the registry in
round 4 — same run, same merge machinery; their state ≡ fixture
equality lives in tests/test_streaming.py.) Oracles are plain batch
SQL because the pipeline is batching-invariant by construction; for
the market state the oracle is literally the same SQL as the batch
``upsert_market_data`` query, which is the strongest statement of ST2
(streaming fold ≡ batch merge).

``stream_events_hourly_rollup`` / ``stream_session_windows`` run real
watermarked append-mode aggregations; their oracles restrict the batch
aggregate to windows/sessions the final watermark closed
(calibrated: Spark emits when window_end <= max_event_time - delay).
"""

from __future__ import annotations

import atexit

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fixtures
from ..streaming.jobs import TOPIC_HISTORICAL, TOPIC_INDEX, TOPIC_MARKET
from ..streaming.pipeline import shared_pipeline
from ..streaming.windows import (
    EVENT_TIME_BOUND_SQL,
    SESSION_GAP_US,
    WATERMARK_DELAY_US,
    docs_ingest_stream,
    hourly_rollup_stream,
    session_windows_stream,
    sliding_window_stream,
    stream_dedup_within_watermark,
    stream_static_enrich,
    stream_stream_interval_join,
)
from . import QuerySpec
from .core import _CDC_APPLY_ORACLE, _UPSERT_ORACLE

# ---------------------------------------------------------------------------
# §3.1 routed pipeline: final states + completion events
# ---------------------------------------------------------------------------


def _q_stream_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_pipeline(spark, sf_dir).state_df(TOPIC_MARKET)


def _q_stream_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 completion events, summed per topic (batch split is an
    execution detail; totals are the invariant the reference also
    reports per run)."""
    comps = shared_pipeline(spark, sf_dir).completions
    return comps.groupBy("topic").agg(
        F.sum("records").alias("records"),
        F.sum("invalid_records").alias("invalid_records"),
        F.sum("dead_letter").alias("dead_letter"),
        F.sum("skipped_empty").alias("skipped_empty"),
    )


_COMPLETIONS_ORACLE = (
    fixtures.with_ctes(fixtures.QUOTES_RAW_SQL, fixtures.MARKET_DATA_MONTHLY_SQL)
    + f"""
SELECT '{TOPIC_MARKET}' AS topic,
       count(*) FILTER (close IS NOT NULL AND percent_change IS NOT NULL
                        AND change IS NOT NULL AND high IS NOT NULL
                        AND low IS NOT NULL) AS records,
       count(*) FILTER (close IS NULL OR percent_change IS NULL
                        OR change IS NULL OR high IS NULL
                        OR low IS NULL) AS invalid_records,
       count(*) FILTER (quote_id % 97 = 0) AS dead_letter,
       count(*) FILTER (quote_id % 89 = 0) AS skipped_empty
FROM quotes_raw
UNION ALL
-- the index job's P1 guard requires regularMarketPrice (= s_acctbal):
-- a null balance is an INVALID request, not a processed record. The
-- hardcoded all-valid form relied on the fixture never shipping a null
-- balance (round-15 fuzzed differential). to_json drops null fields,
-- so the parsed payload fails the required-field check exactly when
-- s_acctbal IS NULL.
SELECT '{TOPIC_INDEX}',
       count(*) FILTER (s_acctbal IS NOT NULL),
       count(*) FILTER (s_acctbal IS NULL),
       0, 0
FROM supplier
UNION ALL
SELECT '{TOPIC_HISTORICAL}', count(*), 0, 0, 0 FROM market_data_monthly
"""
)


# ---------------------------------------------------------------------------
# ST7: event-time watermarked windows / sessions over the events stream
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def _q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup_stream(spark, sf_dir)


_STREAM_HOURLY_ORACLE = f"""
WITH ev AS (SELECT epoch_us(ts) AS ts_us, event_type, value, user_id
            FROM events WHERE {EVENT_TIME_BOUND_SQL}),
mx AS (SELECT max(ts_us) AS max_us FROM ev)
SELECT (ts_us - ts_us % {_HOUR_US}) AS hour_us,
       event_type,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       min(user_id) AS first_user
FROM ev, mx
GROUP BY 1, 2
HAVING (ts_us - ts_us % {_HOUR_US}) + {_HOUR_US}
       <= max(max_us) - {WATERMARK_DELAY_US}
"""


def _q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_stream(spark, sf_dir)


# each event lands in the two 1h-aligned windows covering it; a window
# is emitted iff the final watermark passed its end (start + 2h)
_STREAM_SLIDING_ORACLE = f"""
WITH ev AS (SELECT epoch_us(ts) AS ts_us, event_type, value
            FROM events WHERE {EVENT_TIME_BOUND_SQL}),
mx AS (SELECT max(ts_us) AS max_us FROM ev),
starts AS (
  SELECT event_type, value,
         unnest([ts_us - ts_us % {_HOUR_US},
                 ts_us - ts_us % {_HOUR_US} - {_HOUR_US}]) AS win_start_us
  FROM ev
)
SELECT win_start_us, event_type,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value
FROM starts, mx
GROUP BY 1, 2
HAVING win_start_us + 2 * {_HOUR_US} <= max(max_us) - {WATERMARK_DELAY_US}
"""


def _q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows_stream(spark, sf_dir)


_STREAM_SESSIONS_ORACLE = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
            WHERE ts IS NOT NULL AND {EVENT_TIME_BOUND_SQL}),
mx AS (SELECT max(ts_us) AS max_us FROM ev),
flags AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us, 1) OVER w IS NULL
                   OR ts_us - lag(ts_us, 1) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sess AS (
  SELECT user_id, ts_us,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       count(*) AS n_events
FROM sess, mx
GROUP BY user_id, sid
HAVING max(ts_us) + {SESSION_GAP_US} <= max(max_us) - {WATERMARK_DELAY_US}
"""


def _q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import ewma_stream

    return ewma_stream(spark, sf_dir)


# sequential double fold in (ts_us, event_id) order on both engines —
# bit-identical IEEE op sequence, rounded as a final guard
_EWMA_ORACLE = f"""
WITH ordered AS (
  SELECT user_id,
         list(value ORDER BY epoch_us(ts), event_id) AS vals
  FROM events WHERE {EVENT_TIME_BOUND_SQL}
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       {fixtures._pct_round_sql('list_reduce(vals, (a, b) -> 0.9 * a + 0.1 * b)')} AS ewma_value
FROM ordered
"""


_DOCS_INGEST_ORACLE = """
WITH fp AS (
  SELECT source, md5(lower(trim(text))) AS fingerprint,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens
  FROM documents
  WHERE len(string_split(lower(trim(text)), ' ')) >= 5
),
uniq AS (
  SELECT source, fingerprint, min(n_tokens) AS n_tokens
  FROM fp GROUP BY source, fingerprint
)
SELECT source, CAST(count(*) AS BIGINT) AS n_unique_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM uniq GROUP BY source
"""


# ---------------------------------------------------------------------------
# Streaming CDC apply: a change feed (inserts/updates/DELETES) replayed
# in micro-batches into the tombstone-capable keyed state. The oracle
# is the batch target state — the streaming fold must land exactly
# there regardless of how the feed is micro-batched (tombstones carry
# explicit versions, so the fold stays batching-invariant even with
# deletes interleaved).
# ---------------------------------------------------------------------------

_CDC_FEED_STAGE: dict[tuple, str] = {}
_CDC_SEED_STAGE: dict[tuple, str] = {}


def _reap_cdc_stage_dirs() -> None:
    """Interpreter-exit cleanup of the per-(app, sf) staged CDC dirs
    (r16 advisory: the memoized tempdirs were never reclaimed, and a
    long pytest/verify session strands one pair per sf). Results stay
    readable for the whole process lifetime; the memos are keyed on
    applicationId so nothing outlives the JVM that wrote them anyway.
    Local-mode assumption (documented on the stagers): local[*] writes
    land on the driver's filesystem, where this reaper runs."""
    import shutil

    for memo in (_CDC_FEED_STAGE, _CDC_SEED_STAGE):
        for d in memo.values():
            shutil.rmtree(d, ignore_errors=True)
        memo.clear()


atexit.register(_reap_cdc_stage_dirs)


def _staged_cdc_seed(spark: SparkSession, sf_dir: str) -> str:
    """Old-snapshot seed delta (version 0, no tombstones) materialized
    ONCE per (app, sf) as a parquet drop directory — the prior-DB-
    contents fixture, the same harness role pipeline._seed_market_state
    plays for the routed pipeline's market state. Rows are exactly what
    ``state.merge(old.withColumn("_ver", 0))`` used to append (same
    column order, same types, same 4-file coalesce), so seeding these
    files in as the state's first delta (state.seed_from_files) leaves
    the merged state bit-identical while the per-run 600k-row groupBy
    moves to the fixture side. Driver-side staging assumes local-mode
    writes land on the driver's filesystem (same assumption as
    _CDC_FEED_STAGE / pipeline._seed_market_state); dirs are reaped at
    interpreter exit by _reap_cdc_stage_dirs."""
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in _CDC_SEED_STAGE:
        from ..catalog import load_table

        cols = ["symbol", "asset_type", "price", "high", "low"]
        seed = (
            fixtures.market_data(load_table(spark, sf_dir, "lineitem"))
            .select(*cols)
            .withColumn("_ver", F.lit(0))
            .withColumn("_deleted", F.lit(False))
        )
        d = tempfile.mkdtemp(prefix="ftes_cdc_seed_")
        seed.coalesce(4).write.mode("overwrite").parquet(d)
        _CDC_SEED_STAGE[key] = d
    return _CDC_SEED_STAGE[key]


def _staged_cdc_feed(spark: SparkSession, sf_dir: str) -> str:
    """snapshot_diff(old, new') materialized ONCE per (app, sf) as a
    4-file parquet drop directory — the arrival shape of a CDC feed
    (new' = upserted state minus symbols containing '3', so the feed
    carries real deletes)."""
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key not in _CDC_FEED_STAGE:
        from ..catalog import load_table
        from ..operators.cdc import snapshot_diff
        from .core import _q_upsert

        cols = ["symbol", "asset_type", "price", "high", "low"]
        old = fixtures.market_data(
            load_table(spark, sf_dir, "lineitem")
        ).select(*cols)
        new = (
            _q_upsert(spark, sf_dir)
            .select(*cols)
            .filter(~F.col("symbol").contains("3"))
        )
        feed = snapshot_diff(old, new, ["symbol", "asset_type"]).filter(
            F.col("change_type") != "unchanged"
        )
        d = tempfile.mkdtemp(prefix="ftes_cdc_feed_")
        feed.repartition(4).write.mode("overwrite").parquet(d)
        _CDC_FEED_STAGE[key] = d
    return _CDC_FEED_STAGE[key]


def _q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the tombstone state with the old snapshot (version 0), then
    replay the staged change feed one FILE per micro-batch: updates and
    inserts merge at version 1, deletes fold as version-1 tombstones.
    Final logical state must equal the batch ``cdc_apply_roundtrip``
    target exactly — ST2 extended to the DELETE path."""
    import os
    import tempfile

    from ..streaming.state import TombstoneLogState

    feed_dir = _staged_cdc_feed(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="ftes_cdc_apply_")
    state = TombstoneLogState(
        spark,
        os.path.join(work, "state"),
        keys=["symbol", "asset_type"],
        version_cols=["_ver"],
    )
    # seed delta = staged old snapshot bootstrapped in via the state's
    # own layout-owning method (validates keys/versions/tombstone flag
    # and counts the delta — see _staged_cdc_seed / seed_from_files)
    state.seed_from_files(_staged_cdc_seed(spark, sf_dir))

    def handle(batch: DataFrame, batch_id: int) -> None:
        # ONE append per micro-batch: updates/inserts and deletes fold
        # in the same delta with the tombstone flag computed inline —
        # the log holds the identical multiset of rows the old
        # merge-then-merge_deletes pair wrote (a row is either deleted
        # or not in one diff), at half the per-batch Spark jobs. The
        # lower merge count also keeps the run under compact_every, so
        # the mid-run compaction rewrite the 9-merge sequence triggered
        # is gone (compaction preserves the logical state; skipping it
        # cannot change read_merged).
        # Explicit change_type whitelist (r16 advisory): snapshot_diff
        # emits exactly these three (its CASE is total and 'unchanged'
        # is filtered at staging), so this is row-identical today — it
        # guards a future feed source whose NULL/unknown change_type
        # would otherwise silently become a live update.
        state.merge(
            batch.filter(
                F.col("change_type").isin("inserted", "updated", "deleted")
            )
            .withColumn("_ver", F.lit(1))
            .withColumn(
                TombstoneLogState.TOMBSTONE,
                F.col("change_type") == "deleted",
            )
            .drop("change_type")
        )

    feed = spark.read.parquet(feed_dir)
    # no stateful operator here, but the foreachBatch merges' inner
    # shuffles (the state windows) otherwise run at the batch-session
    # constant per micro-batch; size them from the feed like every
    # other run-to-completion stream (windows.py rationale)
    from ..partitioning import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark, feed):
        q = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return state.read_merged().drop("_ver")


QUERIES: dict[str, QuerySpec] = {
    "stream_cdc_apply": QuerySpec(_q_stream_cdc_apply, _CDC_APPLY_ORACLE),
    "stream_docs_ingest_dedup": QuerySpec(
        lambda spark, sf_dir: docs_ingest_stream(spark, sf_dir),
        _DOCS_INGEST_ORACLE,
    ),
    # S10/S11 (index / monthly states) retired from the registry in
    # round 4: they observed the SAME shared-pipeline run and merge
    # machinery as stream_upsert_market_data through a different topic
    # key, so their oracle rows certified nothing the market twin plus
    # stream_pipeline_completions (which pins all three topics' record
    # totals) does not. Their state≡fixture equality lives on as the
    # unit test test_index_and_monthly_states_equal_batch_fixtures.
    "stream_upsert_market_data": QuerySpec(
        _q_stream_market, _UPSERT_ORACLE, bench=True
    ),
    "stream_pipeline_completions": QuerySpec(
        _q_stream_completions, _COMPLETIONS_ORACLE
    ),
    "stream_events_hourly_rollup": QuerySpec(
        _q_stream_hourly, _STREAM_HOURLY_ORACLE
    ),
    "stream_session_windows": QuerySpec(_q_stream_sessions, _STREAM_SESSIONS_ORACLE),
    "stream_sliding_window_counts": QuerySpec(
        _q_stream_sliding, _STREAM_SLIDING_ORACLE
    ),
    "stream_stateful_ewma": QuerySpec(_q_stream_ewma, _EWMA_ORACLE),
    "stream_dedup_exact": QuerySpec(
        lambda spark, sf_dir: stream_dedup_within_watermark(spark, sf_dir),
        # DISTINCT over the full output record states the dedup
        # exactly: the engine keys dropDuplicatesWithinWatermark on
        # the same four columns, so retransmitted (byte-identical)
        # copies collapse while genuinely differing payloads for one
        # event_id all survive — deterministic on both engines
        # (round-15 fuzzer: id-only keying made the surviving payload
        # arrival-order-dependent). Null event times can't enter
        # watermarked dedup state; excluded on both sides.
        f"""
SELECT DISTINCT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events WHERE ts IS NOT NULL AND {EVENT_TIME_BOUND_SQL}
""",
    ),
    "stream_interval_join": QuerySpec(
        lambda spark, sf_dir: stream_stream_interval_join(spark, sf_dir),
        f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE {EVENT_TIME_BOUND_SQL})
SELECT a.user_id,
       a.event_id AS a_event_id,
       b.event_id AS b_event_id,
       b.ts_us - a.ts_us AS delta_us
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
 AND b.ts_us BETWEEN a.ts_us - 300000000 AND a.ts_us + 300000000
""",
    ),
    "stream_static_enrichment": QuerySpec(
        lambda spark, sf_dir: stream_static_enrich(spark, sf_dir),
        f"""
SELECT n_name,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       max(epoch_us(ts)) AS last_ts_us
FROM events JOIN nation ON user_id % 25 = n_nationkey
WHERE {EVENT_TIME_BOUND_SQL}
GROUP BY n_name
""",
    ),
}
