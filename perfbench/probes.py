"""Measurement probes the benchmark attaches from outside the engine.

Nothing here changes engine code. Each probe reads a counter Spark
already keeps, or wraps a public engine call from this file:

- ``StatusStoreReader``: per-call job/stage deltas from the in-process
  ``AppStatusStore`` (works with the UI off), failing loudly when
  retention could have evicted part of a delta.
- ``plan_phases_ms``: Catalyst phase times from
  ``queryExecution().tracker().phases()``.
- ``BatchListener``: every micro-batch's ``durationMs`` through a
  ``StreamingQueryListener``.
- ``patched_state``: wraps ``LogStructuredState.merge`` and
  ``read_merged`` (class attributes, restored on exit) so their calls
  become spans.
- ``Tracer``: in-memory spans, written once at the end of a run, and
  per-kind self time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def now_ms() -> float:
    """Wall clock in epoch ms, the clock Spark stamps jobs and stages with."""
    return time.time() * 1000.0


# --- host annotations --------------------------------------------------------


def cpu_steal_snapshot() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7], sum(vals)) if len(vals) >= 8 else None


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] == before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- Spark status store --------------------------------------------------------


class RetentionTruncated(RuntimeError):
    """A job or stage of the current delta was evicted by retention."""


class StatusStoreReader:
    """Job and stage deltas around one call, read from the in-process
    ``AppStatusStore``. The store is filled asynchronously by the
    listener bus, so every read first drains the bus.

    Job ids come from the scheduler's counter, so a delta covers every
    job the call launched, in any job group (a streaming query's jobs
    carry one). Retention (``spark.ui.retainedJobs``/``retainedStages``,
    1000 with the UI off) evicts the oldest records first; a job or
    stage of the delta that can no longer be read means the delta was
    truncated, and the reader raises instead of returning short counts."""

    STAGE_FIELDS = (
        "executorRunTime",
        "executorCpuTime",
        "jvmGcTime",
        "inputBytes",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "diskBytesSpilled",
        "memoryBytesSpilled",
        "numCompleteTasks",
        "numFailedTasks",
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.mark()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> None:
        """Start a new delta at the next job and stage ids."""
        self.next_job = int(self._dag.nextJobId())
        self.next_stage = int(self._dag.nextStageId())

    def delta(self) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) launched since the last mark; moves the mark."""
        end_job = int(self._dag.nextJobId())
        self._bus.waitUntilEmpty()
        try:
            jobs = [self._json(self._store.job(j)) for j in range(self.next_job, end_job)]
        except Exception as exc:  # py4j wraps NoSuchElementException
            raise RetentionTruncated(
                f"a job in [{self.next_job}, {end_job}) was evicted: {exc}") from exc
        new_stages = sorted(
            {s for job in jobs for s in job["stageIds"] if s >= self.next_stage}
        )
        stages = []
        for sid in new_stages:
            try:
                attempts = self._json(
                    self._store.stageData(
                        sid, False, self._empty, False, self._no_quantiles
                    )
                )
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise RetentionTruncated(f"stage {sid} was evicted: {exc}") from exc
            for a in attempts:
                stages.append({k: a.get(k) for k in ("stageId", "attemptId", "status",
                                                     "submissionTime", "completionTime",
                                                     *self.STAGE_FIELDS)})
        self.next_job = end_job
        self.next_stage = max(self.next_stage, new_stages[-1] + 1 if new_stages else 0)
        return jobs, stages


def exec_totals(stages: list[dict]) -> dict[str, float]:
    """Task-metric totals over stage attempts (skipped stages carry zeros)."""

    def tot(field: str) -> float:
        return float(sum(s.get(field) or 0 for s in stages))

    return {
        "stages": float(sum(1 for s in stages if s["status"] != "SKIPPED")),
        "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
        "executor_run_s": tot("executorRunTime") / 1e3,
        "executor_cpu_s": tot("executorCpuTime") / 1e9,
        "gc_s": tot("jvmGcTime") / 1e3,
        "input_bytes": tot("inputBytes"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "spill_bytes": tot("diskBytesSpilled"),
    }


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_interval(job: dict) -> tuple[float, float] | None:
    if job.get("submissionTime") is None or job.get("completionTime") is None:
        return None
    return float(job["submissionTime"]), float(job["completionTime"])


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own plan.
    Optimization and planning run here, on demand; the noop write
    that forces ``df`` plans the same logical plan again."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# --- streaming ---------------------------------------------------------------------


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch's progress (batch id, input rows,
    start, ``durationMs``). Call ``drain`` after the query ends: it
    waits for the listener bus so no progress event is still queued."""

    def __init__(self, spark) -> None:
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        with self._lock:
            self._batches.append(
                {
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "start_ms": start.timestamp() * 1000.0,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        with self._lock:
            out, self._batches = self._batches, []
        return out


# --- spans -------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, parent, kind, name, start_ms, end_ms, attrs).
    Nothing is written until ``write``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def add(self, kind, name, start_ms, end_ms, parent=None, **attrs) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(
                {
                    "id": sid,
                    "parent": parent,
                    "kind": kind,
                    "name": name,
                    "start_ms": start_ms,
                    "end_ms": end_ms,
                    "attrs": attrs,
                }
            )
        return sid

    def add_jobs(self, jobs, stages, default_parent, parent_for=None) -> None:
        """Job spans (parented by ``parent_for(start_ms)`` or the
        default) with their stage spans as children."""
        by_stage = {}
        for s in stages:
            if s["status"] != "SKIPPED" and s["submissionTime"] and s["completionTime"]:
                by_stage.setdefault(s["stageId"], []).append(s)
        for job in jobs:
            iv = job_interval(job)
            if iv is None:
                continue
            parent = parent_for(iv[0]) if parent_for else None
            if parent is None:
                parent = default_parent
            jid = self.add("spark_job", f"job {job['jobId']}", iv[0], iv[1], parent,
                           status=job.get("status"))
            for sid in job["stageIds"]:
                for s in by_stage.pop(sid, []):
                    self.add("spark_stage", f"stage {sid}.{s['attemptId']}",
                             float(s["submissionTime"]), float(s["completionTime"]),
                             jid, executor_run_ms=s["executorRunTime"])

    def reparent_by_time(self, kind: str, container_kind: str) -> None:
        """Give each ``kind`` span the ``container_kind`` span that
        contains its start, when one does (merge spans inside batches)."""
        containers = [s for s in self.spans if s["kind"] == container_kind]
        for s in self.spans:
            if s["kind"] != kind:
                continue
            for c in containers:
                if c["start_ms"] <= s["start_ms"] <= c["end_ms"]:
                    s["parent"] = c["id"]
                    break

    def self_time_s(self) -> dict[str, float]:
        """Per kind: total span time not covered by the span's children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end_ms"] - s["start_ms"]
            kids = covered_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, dur - kids) / 1e3
        return out

    def write(self, path: str, **header) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


@contextmanager
def patched_state(tracer: Tracer, merge_ms: list[float]):
    """Wrap ``LogStructuredState.merge``/``read_merged`` for the block:
    each call becomes a span; merge durations also go to ``merge_ms``."""
    from financial_tracker_etl_spark.streaming.state import LogStructuredState

    orig_merge = LogStructuredState.merge
    orig_read = LogStructuredState.read_merged

    def merge(self, updates):
        start = now_ms()
        try:
            return orig_merge(self, updates)
        finally:
            end = now_ms()
            tracer.add("merge", os.path.basename(self.path), start, end)
            merge_ms.append(end - start)

    def read_merged(self):
        # builds the lazy merge-on-read plan; the caller forces it
        start = now_ms()
        try:
            return orig_read(self)
        finally:
            tracer.add("read_merged", os.path.basename(self.path), start, now_ms())

    LogStructuredState.merge = merge
    LogStructuredState.read_merged = read_merged
    try:
        yield
    finally:
        LogStructuredState.merge = orig_merge
        LogStructuredState.read_merged = orig_read
