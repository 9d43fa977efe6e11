"""Custom stateful streaming operator: per-key EWMA via
``applyInPandasWithState`` (ST7 extension; SURVEY.md §2.J notes the
reference has no user-extensible operator surface — this is the
Spark-native one).

Semantics: for each user, fold event values in (ts_us, event_id) order
through ``ewma = (1-α)·ewma + α·value`` (seeded with the first value).
State carries ``(ewma, n)`` across micro-batches, so the operator runs
unbounded with O(keys) state; each batch emits the key's updated
running value (output mode ``update``).

Determinism caveat, encoded in the harness: the fold order must be a
total order (ts_us, event_id), and cross-batch correctness requires
batches to arrive time-ordered per key — guaranteed here by replaying
the source as one AvailableNow batch; in production by Kafka per-key
partition ordering. Arrow does the Python transfer in columnar batches
(the only Python in the whole engine's hot paths, and it is the
genuinely-custom fold Spark has no builtin for).
"""

from __future__ import annotations

import os
import tempfile
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..fixtures import _pct_round
from .windows import events_stream

EWMA_ALPHA = 0.1


def _ewma_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    ewma, n = state.get if state.exists else (None, 0)
    ewma, n = _fold_ewma(pd.concat(list(pdfs)), ewma, n)
    state.update((ewma, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma_value": [ewma]}
    )


def _fold_ewma(
    pdf: pd.DataFrame, ewma: float | None, n: int
) -> tuple[float | None, int]:
    """The shared per-batch fold both stateful APIs drive: values in
    (ts_us, event_id) order through ewma = (1-α)·ewma + α·v."""
    pdf = pdf.sort_values(["ts_us", "event_id"])
    for v in pdf["value"]:
        v = float(v)
        ewma = v if ewma is None else (1.0 - EWMA_ALPHA) * ewma + EWMA_ALPHA * v
        n += 1
    return ewma, n


_EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma_value double"


def transform_with_state_available() -> bool:
    """``transformWithStateInPandas`` (the ``applyInPandasWithState``
    successor — deprecated upstream) imports fine on this PySpark, but
    its runtime speaks protobuf to a driver-side state server; without
    ``google.protobuf`` only the legacy API can execute. Capability
    probe, not a version check, so the day the environment grows
    protobuf the engine switches with zero code change
    (tests/test_streaming.py pins this boundary). Probes the grouped
    API surface too: a PySpark that dropped or renamed the method must
    fall back to the legacy path, not die at dispatch."""
    import importlib.util

    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    if not hasattr(PandasGroupedOpsMixin, "transformWithStateInPandas"):
        return False
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        # find_spec raises (not returns None) when the parent package
        # is itself absent
        return False


class _EwmaProcessor:
    """``StatefulProcessor`` twin of :func:`_ewma_fn` for the
    ``transformWithStateInPandas`` API: same (ewma, n) value state,
    same fold, same one-row-per-key update output. Defined lazily (the
    base class import is safe without protobuf, but subclassing at
    module import keeps the coupling explicit in one place)."""

    def __new__(cls):
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
        )
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        class Impl(StatefulProcessor):
            def init(self, handle) -> None:
                self._state = handle.getValueState(
                    "ewmaState",
                    StructType(
                        [
                            StructField("ewma", DoubleType()),
                            StructField("n", LongType()),
                        ]
                    ),
                )

            def handleInputRows(
                self, key, rows, timerValues
            ) -> Iterable[pd.DataFrame]:
                ewma, n = (
                    self._state.get() if self._state.exists() else (None, 0)
                )
                # concat BEFORE the fold: the (ts_us, event_id) total
                # order must span all Arrow chunks of the batch, not
                # hold merely within each chunk
                ewma, n = _fold_ewma(pd.concat(list(rows)), ewma, n)
                self._state.update((ewma, n))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "ewma_value": [ewma],
                    }
                )

            def close(self) -> None:
                pass

        return Impl()


def ewma_stream(
    spark: SparkSession, sf_dir: str, api: str = "auto"
) -> DataFrame:
    """Run the stateful EWMA over the replayed events stream and return
    the final per-user values.

    ``api``: ``"auto"`` picks ``transformWithState`` when its protobuf
    runtime exists and the deprecated ``applyInPandasWithState``
    otherwise; ``"transformWithState"`` / ``"applyInPandasWithState"``
    force a path (tests pin both against the same oracle)."""
    ev = events_stream(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "value"
    )
    if api == "auto":
        api = (
            "transformWithState"
            if transform_with_state_available()
            else "applyInPandasWithState"
        )
    if api == "transformWithState":
        updated = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_EwmaProcessor(),
            outputStructType=_EWMA_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        updated = ev.groupBy("user_id").applyInPandasWithState(
            _ewma_fn,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType="ewma double, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    out_dir = tempfile.mkdtemp(prefix="ftes_ewma_")
    sink, ckpt = os.path.join(out_dir, "sink"), os.path.join(out_dir, "ckpt")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(sink)

    # stateful shuffle sized from the source (see windows.py: the
    # partition count pins the state-store instance count; 32 instances
    # on MB-scale state paid ~2x wall in fixed commit cost)
    from ..catalog import table_path
    from ..partitioning import scoped_shuffle_partitions

    events = spark.read.parquet(table_path(sf_dir, "events"))
    with scoped_shuffle_partitions(spark, events):
        q = (
            updated.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update-mode emits one row per key per batch; the last batch's row
    # is the final state — with a single AvailableNow batch it is the
    # only row. Keep max-n per key to be robust to multi-batch replays.
    raw = spark.read.parquet(sink)
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(
            "user_id",
            "n_events",
            # magnitude-guarded round, mirrored in the oracle: past
            # ~1e9 DuckDB's multiply-based round(x,6) perturbs the
            # double by one ULP while Spark's BigDecimal round doesn't
            # (round-16 fuzzer, extreme class at the sf0.1 rung — a
            # planted 1.5e12 decays into an e10-magnitude EWMA)
            _pct_round(F.col("ewma_value")).alias("ewma_value"),
        )
    )
