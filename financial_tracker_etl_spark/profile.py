"""Runtime plan profiler: execute a query and report per-operator
SQLMetrics (rows, bytes, spill, scan/agg time) from the FINAL adaptive
physical plan.

``.explain`` shows the shape you asked for; this shows what actually
ran — numOutputRows per operator, shuffle bytes, spill — which is the
evidence that a plan is scale-safe (e.g. a broadcast side that stayed
KB-sized, a filter that actually pruned). The driver-side cost is one
pass over the plan tree; execution happens via the query's own
``toRdd().count()`` so no result rows ever reach the driver.

The final plan hides the jobs behind persisted or checkpointed
intermediates; :func:`stage_delta_metrics` covers those, reading the
driver's status store (UI on or off) for every job a query launched.

Usage:  python -m financial_tracker_etl_spark profile <query> [--sf-dir DIR]
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame


@dataclass
class NodeMetrics:
    depth: int
    name: str
    metrics: dict[str, int]
    # True for every node reached by descending through a
    # ReusedExchange/ReusedSubquery wrapper: the wrapper points back at
    # the ORIGINAL subtree (same plan objects, same metric
    # accumulators), so summing over the flat list without skipping
    # these counts each reused exchange/scan twice (round-13 ADVICE
    # low). Display keeps the full tree; audit sums must filter.
    reused: bool = False


_DESCEND_METHODS = ("executedPlan", "plan", "child")


def _subplans(node):
    """Children of a physical node, descending through AQE wrappers
    (AdaptiveSparkPlan.executedPlan, QueryStage.plan, ReusedExchange/
    WholeStageCodegen.child) that hide their subtree from children()."""
    kids = [node.children().apply(i) for i in range(node.children().size())]
    if kids:
        return kids
    for meth in _DESCEND_METHODS:
        try:
            sub = getattr(node, meth)()
        except Exception:
            continue
        if sub is not None and hasattr(sub, "nodeName"):
            return [sub]
    return []


def _node_metrics(node) -> dict[str, int]:
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def collect_metrics(df: DataFrame, execute: bool = True) -> list[NodeMetrics]:
    """Execute ``df``'s own queryExecution (unless already run) and
    return the final plan's per-node metrics, pre-order."""
    qe = df._jdf.queryExecution()
    if execute:
        qe.toRdd().count()  # runs THIS queryExecution; nothing collected
    rows: list[NodeMetrics] = []

    def walk(node, depth: int, reused: bool) -> None:
        name = node.nodeName()
        # The ReusedExchange wrapper row itself is flagged, not just its
        # descendants: ReusedExchangeExec exposes no SQLMetrics today,
        # but if a future Spark surfaced the original's aliased
        # accumulators on the wrapper, an unflagged wrapper row would
        # double-count in plan_io_summary (round-14 ADVICE low).
        into_reuse = reused or name.startswith("Reused")
        rows.append(NodeMetrics(depth, name, _node_metrics(node), into_reuse))
        for kid in _subplans(node):
            walk(kid, depth + 1, into_reuse)

    walk(qe.executedPlan(), 0, False)
    return rows


def plan_io_summary(rows: list[NodeMetrics]) -> dict:
    """Exchange/scan/spill accounting over a ``collect_metrics`` result
    with each physical node counted ONCE (``reused`` subtrees skipped —
    they alias the original subtree's accumulators).

    Scope caveat (round-13 ADVICE low): ``spill_bytes`` sums the
    per-node ``spillSize`` SQLMetric, which covers operator spill
    (sorts/aggs/joins) only — shuffle-WRITE spill never appears in node
    SQLMetrics. Use :func:`stage_delta_metrics` (task-level
    memory/diskBytesSpilled from the status store) for the inclusive
    number.
    """
    shuffle_bytes: list[int] = []
    spill = 0
    scan = 0
    for r in rows:
        if r.reused:
            continue
        m = r.metrics
        if "shuffleBytesWritten" in m:
            shuffle_bytes.append(m["shuffleBytesWritten"])
        spill += m.get("spillSize", 0)
        # only leaf scan nodes carry filesSize; exchanges' dataSize is
        # deliberately not conflated into the scan denominator
        if r.name.startswith("Scan") and "filesSize" in m:
            scan += m["filesSize"]
    return {
        "shuffle_total_bytes": sum(shuffle_bytes),
        "shuffle_max_exchange_bytes": max(shuffle_bytes, default=0),
        "n_exchanges": len(shuffle_bytes),
        "spill_bytes": spill,
        "scan_bytes": scan,
    }


# Stage-level IO keys from the in-process status store. Unlike
# final-plan SQLMetrics, these cover EVERY job a query ran, including
# the persist/count jobs behind cached intermediates (pagerank's
# per-iteration exchanges, LSH's candidate build) that the final
# adaptive plan hides behind InMemoryTableScan, and their spill
# counters include shuffle-write spill.
STAGE_IO_KEYS = (
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "inputBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StageRecordsEvicted(RuntimeError):
    """A job or stage of a delta is no longer in the status store."""


class _StatusStore:
    """Job and stage records of the driver's ``AppStatusStore`` as
    dicts. The store is filled whether or not the UI runs. A job that
    is not in the store raises KeyError; a stage that is not in it
    reads as no attempts (Spark's ``stageData`` does not raise)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def job(self, job_id: int) -> dict:
        try:
            return self._json(self._store.job(job_id))
        except Py4JJavaError as exc:
            name = exc.java_exception.getClass().getName()
            if name == "java.util.NoSuchElementException":
                raise KeyError(job_id) from exc
            raise

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(
            self._store.stageData(
                stage_id, False, self._empty, False, self._no_quantiles
            )
        )


def stage_snapshot(spark) -> tuple[int, int]:
    """Mark for :func:`stage_delta_metrics`: the scheduler's next job
    and stage ids, so the delta is every job launched after this call."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return int(dag.nextJobId()), int(dag.nextStageId())


def stage_delta_metrics(spark, before: tuple[int, int]) -> dict:
    """Aggregate STAGE_IO_KEYS over every stage of every job launched
    since the ``before`` mark. The listener bus fills the store
    asynchronously, so it is drained first. Raises
    StageRecordsEvicted rather than return short counts when
    retention (``spark.ui.retainedJobs``/``retainedStages``) has
    dropped part of the delta."""
    jsc = spark.sparkContext._jsc.sc()
    end_job = int(jsc.dagScheduler().nextJobId())
    jsc.listenerBus().waitUntilEmpty()
    return stage_totals(_StatusStore(spark), before, end_job)


def stage_totals(store, before: tuple[int, int], end_job: int) -> dict:
    """Totals over jobs ``[before[0], end_job)`` read from ``store``
    (``job(id)`` and ``stage_attempts(id)``, as :class:`_StatusStore`
    returns them): STAGE_IO_KEYS summed over the stage attempts that
    ran, plus ``n_jobs``, ``n_stages`` and
    ``max_stage_shuffle_write_bytes``. Stages created before the mark
    are excluded: a job that reuses an earlier shuffle lists that
    stage as skipped, and its work was counted before."""
    first_job, first_stage = before
    try:
        jobs = [store.job(j) for j in range(first_job, end_job)]
    except KeyError as exc:
        raise StageRecordsEvicted(
            f"job {exc} of [{first_job}, {end_job}) was evicted"
        ) from exc
    stage_ids = sorted(
        {s for job in jobs for s in job["stageIds"] if s >= first_stage}
    )
    ran, missing = [], []
    for sid in stage_ids:
        attempts = store.stage_attempts(sid)
        if not attempts:
            missing.append(sid)
        ran += [a for a in attempts if a.get("status") != "SKIPPED"]
    # Retention drops skipped stages first, and those carry no work; a
    # missing stage matters only when the jobs ran more stages than
    # were read.
    n_read = len({a["stageId"] for a in ran})
    n_run = sum(job["numCompletedStages"] + job["numFailedStages"] for job in jobs)
    if missing and n_read < n_run:
        raise StageRecordsEvicted(
            f"evicted stages {missing}: the jobs ran {n_run}, {n_read} read"
        )
    out = {k: sum(a.get(k) or 0 for a in ran) for k in STAGE_IO_KEYS}
    out["n_jobs"] = len(jobs)
    out["n_stages"] = len(ran)
    out["max_stage_shuffle_write_bytes"] = max(
        (a.get("shuffleWriteBytes") or 0 for a in ran), default=0
    )
    return out


def format_stage_totals(d: dict) -> str:
    """One line of :func:`stage_delta_metrics` totals."""
    return (
        f"stages: {d['n_jobs']} jobs, {d['n_stages']} stages | "
        f"shuffle read {d['shuffleReadBytes']} B, "
        f"shuffle write {d['shuffleWriteBytes']} B, "
        f"input {d['inputBytes']} B, "
        f"spill {d['memoryBytesSpilled']} B memory / "
        f"{d['diskBytesSpilled']} B disk"
    )


_KEY_METRICS = (
    "numOutputRows",
    "numFiles",
    "filesSize",
    "dataSize",
    "shuffleBytesWritten",
    "spillSize",
    "peakMemory",
    "scanTime",
    "aggTime",
)


def format_profile(rows: list[NodeMetrics]) -> str:
    lines = []
    for r in rows:
        picked = {k: v for k, v in r.metrics.items() if k in _KEY_METRICS}
        tail = (
            " | " + ", ".join(f"{k}={v}" for k, v in sorted(picked.items()))
            if picked
            else ""
        )
        lines.append("  " * r.depth + r.name + tail)
    return "\n".join(lines)
