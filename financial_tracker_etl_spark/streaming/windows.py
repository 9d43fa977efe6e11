"""Event-time streaming aggregation (ST7 extension surface).

The reference is processing-time only (SURVEY.md §2.H); this module
adds the event-time semantics a Spark-native engine gets from
Structured Streaming: watermarked tumbling windows and session windows
over the ``events`` table replayed as a file stream.

Determinism for the oracle harness: in append mode a window is emitted
only once the watermark (max observed event time − delay) passes its
end, so with ``Trigger.AvailableNow`` the result is exactly the batch
aggregation restricted to windows closed by the final watermark — an
inequality DuckDB can state in SQL. At scale the same queries run
unbounded: the watermark additionally bounds state size (old windows
are evicted), which is the 100 TB story — state is O(open windows), not
O(stream).
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import events_ts_us_col, table_path
from ..partitioning import scoped_shuffle_partitions

WATERMARK_DELAY = "47 minutes"
WATERMARK_DELAY_US = 47 * 60 * 1_000_000
SESSION_GAP = "30 minutes"
SESSION_GAP_US = 30 * 60 * 1_000_000


_STAGE_CACHE: dict[str, str] = {}


def _staged_events_dir(sf_dir: str) -> str:
    """FileStreamSource consumes a directory; the testdata table is one
    file. Stage it (symlink) into a scratch dir — the at-scale shape is
    a drop-directory of many files anyway."""
    key = os.path.abspath(sf_dir)
    if key not in _STAGE_CACHE:
        d = tempfile.mkdtemp(prefix="ftes_events_src_")
        os.symlink(table_path(sf_dir, "events"), os.path.join(d, "part-0.parquet"))
        _STAGE_CACHE[key] = d
    return _STAGE_CACHE[key]


# Bounded event-time ingestion (watermark-poisoning guard): ONE
# corrupt far-future timestamp advances the stream watermark past
# every genuine event, silently dropping them as late — the classic
# event-time production failure (round-16 fuzzer, timewarp class: a
# planted 2200 instant cost real rows in five watermarked twins).
# Events outside the plausibility window are rejected AT INGEST, the
# same validation stage that drops malformed payloads (P1); NULL event
# times keep flowing (their handling is each operator's documented
# business, pinned in round 15). Every events-based stream oracle
# states the identical bound (EVENT_TIME_BOUND_SQL).
EVENT_TIME_LO_US = 631_152_000_000_000  # 1990-01-01 in epoch-us
EVENT_TIME_HI_US = 4_102_444_800_000_000  # 2100-01-01 in epoch-us
EVENT_TIME_BOUND_SQL = (
    f"(ts IS NULL OR (epoch_us(ts) >= {EVENT_TIME_LO_US}"
    f" AND epoch_us(ts) < {EVENT_TIME_HI_US}))"
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import _ensure_session_defaults

    _ensure_session_defaults(spark)
    # FileStreamSource needs an explicit schema; probe it from a batch
    # read of the same file so the stream sees events.ts exactly as the
    # environment resolves it (ns-longs vs timestamp[_ntz]) and the
    # dtype-branching conversion stays identical to the batch path.
    batch = spark.read.parquet(table_path(sf_dir, "events"))
    ts_us = events_ts_us_col(dict(batch.dtypes)["ts"])
    raw = spark.readStream.schema(batch.schema).parquet(
        _staged_events_dir(sf_dir)
    )
    # the bound tests the CANONICAL ts_us derivation (the raw column
    # may surface as ns-longs or timestamp depending on environment —
    # events_ts_us_col owns that branch)
    selected = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_us.alias("ts_us"),
        F.timestamp_micros(ts_us).alias("event_time"),
    )
    return selected.filter(
        F.col("ts_us").isNull()
        | (
            (F.col("ts_us") >= F.lit(EVENT_TIME_LO_US))
            & (F.col("ts_us") < F.lit(EVENT_TIME_HI_US))
        )
    )


# --- stateful-shuffle sizing ------------------------------------------------
#
# A stateful streaming operator pins spark.sql.shuffle.partitions into its
# checkpoint at first run: that count IS the number of state-store
# instances forever (AQE cannot coalesce stateful plans). The batch-side
# constant (32 here) gave every MB-scale stream 32 stores, and the
# symmetric-hash interval join 4 stores per partition, whose per-commit
# fixed cost dominated wall time (stream_stream_interval_join at sf0.1:
# 25.5 s at 32 partitions vs 7.3 s at 4). So each run-to-completion stream
# sizes its state from a batch read of its source through the shared
# plan-statistics sizer (partitioning.scoped_shuffle_partitions).


def _events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, "events"))


def unload_state_stores(spark: SparkSession) -> None:
    """Unload every state-store provider this executor has loaded.

    Each run-to-completion stream here uses a throwaway checkpoint, so
    the providers it leaves behind are orphans: nothing will ever read
    them again, yet HDFSBackedStateStoreProvider keeps its recent state
    maps ON HEAP in the loadedProviders registry and the background
    maintenance task keeps snapshotting them — across a long session
    (verify's 150 queries, a fuzz campaign) that is unbounded pinned
    memory and steady background churn. StateStore.stop() unloads all
    providers and halts maintenance; the next streaming query lazily
    restarts both (Spark uses exactly this call between its own test
    suites). A long-lived production query never hits this path — its
    one checkpoint's providers are live, not orphaned."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # non-fatal: providers stay loaded, as before


def _run_to_table(
    df: DataFrame,
    spark: SparkSession,
    mode: str,
    sized_by: DataFrame | None = None,
) -> DataFrame:
    """Drive a streaming aggregation to completion (AvailableNow) into a
    parquet sink and hand back the materialized result. Append mode
    writes directly; complete mode goes through foreachBatch overwrite
    (the file sink is append-only by design — each complete-mode batch
    is a full snapshot, so overwrite-latest is the correct
    materialization). With ``sized_by``, the stream's shuffles run under
    the partition count derived from that batch read of its source."""
    out_dir = tempfile.mkdtemp(prefix="ftes_win_")
    sink, ckpt = os.path.join(out_dir, "sink"), os.path.join(out_dir, "ckpt")
    writer = df.writeStream.outputMode(mode)
    if mode == "complete":

        def overwrite(batch: DataFrame, batch_id: int) -> None:
            batch.write.mode("overwrite").parquet(sink)

        writer = writer.foreachBatch(overwrite)
    else:
        writer = writer.format("parquet").option("path", sink)
    with contextlib.ExitStack() as stack:
        if sized_by is not None:
            stack.enter_context(scoped_shuffle_partitions(spark, sized_by))
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    unload_state_stores(spark)
    return df.sparkSession.read.parquet(sink)


def hourly_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event_type, append mode:
    only windows whose end the final watermark passed are emitted.
    Counts + min/max only (float-sum would not be cross-engine stable).
    """
    ev = events_stream(spark, sf_dir).withWatermark(
        "event_time", WATERMARK_DELAY
    )
    agg = ev.groupBy(
        F.window("event_time", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("user_id").alias("first_user"),
    )
    out = agg.select(
        F.unix_micros(F.col("w.start")).alias("hour_us"),
        "event_type",
        "n_events",
        "min_value",
        "max_value",
        "first_user",
    )
    return _run_to_table(out, spark, "append", _events_batch(spark, sf_dir))


def sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING windows (2-hour window, 1-hour slide) per
    event_type, append mode: each event contributes to exactly two
    overlapping windows, and a window is emitted once the final
    watermark passes its end. The overlap is the semantic difference
    from the tumbling hourly rollup — trend metrics smoothed across
    window boundaries. State is O(open windows × types) — the slide
    multiplies state by duration/slide (2× here), not by stream size,
    so the 100 TB story is unchanged from tumbling windows.
    Counts + min/max only (float-sum is not cross-engine stable)."""
    ev = events_stream(spark, sf_dir).withWatermark(
        "event_time", WATERMARK_DELAY
    )
    agg = ev.groupBy(
        F.window("event_time", "2 hours", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    out = agg.select(
        F.unix_micros(F.col("w.start")).alias("win_start_us"),
        "event_type",
        "n_events",
        "min_value",
        "max_value",
    )
    return _run_to_table(out, spark, "append", _events_batch(spark, sf_dir))


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (X1's unbounded form): the event stream
    doubled (at-least-once delivery simulation), then
    ``dropDuplicatesWithinWatermark`` on event_id. State holds only
    keys younger than the watermark — bounded, unlike a plain
    ``dropDuplicates`` whose state grows forever; the dedup guarantee
    degrades gracefully to "within the lateness bound", which is the
    honest contract at 100 TB."""
    ev = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_us", "event_time"
    )
    doubled = ev.unionByName(events_stream(spark, sf_dir).select(*ev.columns))
    # EXACT dedup: the key is the full output record, not event_id
    # alone — at-least-once retransmissions are byte-identical copies,
    # and keying on event_id alone made the surviving PAYLOAD
    # engine/arrival-order-dependent when same-id rows differ (the
    # round-15 fuzzer's null-perturbed duplicates). Rows without an
    # event time can't enter watermarked dedup state; excluded
    # explicitly, matching the oracle.
    out = (
        doubled.filter(F.col("event_time").isNotNull())
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(
            ["event_id", "user_id", "event_type", "ts_us"]
        )
        .select("event_id", "user_id", "event_type", "ts_us")
    )
    return _run_to_table(out, spark, "append", _events_batch(spark, sf_dir))


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    (tiny, broadcast) nation dimension, then aggregated per nation.
    The static side is re-read per micro-batch by Structured Streaming,
    so dimension updates are picked up — the standard enrichment shape;
    no stream state is needed for the join itself."""
    from ..catalog import load_table
    from pyspark.sql.functions import broadcast

    ev = events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    joined = ev.join(
        broadcast(nation), (F.col("user_id") % 25) == F.col("n_nationkey")
    )
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.max("ts_us").alias("last_ts_us"),
    )
    return _run_to_table(agg, spark, "complete", _events_batch(spark, sf_dir))


def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str, minutes: int = 5
) -> DataFrame:
    """Stream-stream inner interval join: even-id events matched to
    odd-id events of the same user within ±``minutes``. Both sides
    carry watermarks — that is what lets Spark BOUND the join state
    (each side buffers only rows within watermark+interval, the 100 TB
    requirement for unbounded streams); an inner join's emitted matches
    are unaffected by the eviction, so the batch oracle is exact."""
    base = events_stream(spark, sf_dir)
    a = (
        base.filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("a_event_id"),
            F.col("ts_us").alias("a_ts_us"),
            F.col("event_time").alias("a_time"),
        )
        .withWatermark("a_time", "1 hour")
    )
    b = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_event_id"),
            F.col("ts_us").alias("b_ts_us"),
            F.col("event_time").alias("b_time"),
        )
        .withWatermark("b_time", "1 hour")
    )
    bound = F.expr(f"INTERVAL {minutes} MINUTES")
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_time") >= F.col("a_time") - bound)
        & (F.col("b_time") <= F.col("a_time") + bound),
        "inner",
    )
    out = joined.select(
        F.col("a_user").alias("user_id"),
        "a_event_id",
        "b_event_id",
        (F.col("b_ts_us") - F.col("a_ts_us")).alias("delta_us"),
    )
    return _run_to_table(out, spark, "append", _events_batch(spark, sf_dir))


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (gap = 30 min) per user, append mode.
    ``session_window``'s close condition (watermark past last_event+gap)
    mirrors the batch lag-based islands in analytics.events_sessionization,
    restricted to sessions the final watermark closed."""
    # explicit event-time contract: a record without a timestamp can't
    # be placed in a session window (Spark would otherwise fold it into
    # a null window whose eviction-vs-watermark comparison is
    # undefined) — round-15 fuzzer, time nulls
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_time").isNotNull())
        .withWatermark("event_time", WATERMARK_DELAY)
    )
    agg = ev.groupBy(
        F.session_window(F.col("event_time"), SESSION_GAP).alias("w"),
        "user_id",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )
    out = agg.select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )
    return _run_to_table(out, spark, "append", _events_batch(spark, sf_dir))


_DOC_STAGE_CACHE: dict[str, str] = {}


def _staged_documents_dir(sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key not in _DOC_STAGE_CACHE:
        d = tempfile.mkdtemp(prefix="ftes_docs_src_")
        os.symlink(
            table_path(sf_dir, "documents"), os.path.join(d, "part-0.parquet")
        )
        _DOC_STAGE_CACHE[key] = d
    return _DOC_STAGE_CACHE[key]


def docs_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion — the [EXT] curation tier's arrival
    path: documents replayed as a file stream are quality-gated
    (>= 5 whitespace tokens), fingerprinted (md5 of the normalized
    text), exact-deduped on (source, fingerprint) with streaming
    ``dropDuplicates`` state, and the surviving stream aggregates to
    per-source corpus stats.

    Determinism for the oracle: which PHYSICAL row survives dedup
    depends on arrival order, but every output column is a function of
    the fingerprint alone (identical text => identical token count), so
    the per-source (n_unique_docs, total_tokens) pair is
    survivor-invariant and DuckDB states it as COUNT/SUM over DISTINCT
    fingerprints. At scale the dedup state is the fingerprint set —
    at-least-once file replay folds into it idempotently, and a
    watermarked ``dropDuplicatesWithinWatermark`` bounds it for
    genuinely unbounded feeds (the events twin demonstrates that
    variant)."""
    from ..catalog import _ensure_session_defaults

    _ensure_session_defaults(spark)
    batch = spark.read.parquet(table_path(sf_dir, "documents"))
    raw = spark.readStream.schema(batch.schema).parquet(
        _staged_documents_dir(sf_dir)
    )
    norm = F.lower(F.trim(F.col("text")))
    toks = F.size(F.split(norm, " "))
    enriched = raw.select(
        "source",
        F.md5(norm).alias("fingerprint"),
        toks.alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 5)
    deduped = enriched.dropDuplicates(["source", "fingerprint"])
    survivors = _run_to_table(
        deduped,
        spark,
        "append",
        batch,
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
