"""The benchmark's workloads and their output checks.

Every workload is a closed loop of operations: one at a time, each
started when the previous one has returned. A pass is one operation of
each kind, in an order the seed shuffles.

- ``request_stream``: the reference's own request -> job -> upsert ->
  completion loop. Its one operation drains the whole staged request
  backlog through ``run_routed_pipeline`` (fresh state and checkpoint
  each time) and then forces the three merged states. Stresses
  ``streaming.pipeline`` and ``streaming.state`` on both the write side
  (merges) and the read side (merge-on-read); builds almost no DAG in
  Python, so it is the workload on which plan-construction changes
  should show nothing.
- ``batch_queries``: registry queries of two kinds. The fintrack ETL
  jobs are execution-bound (scan, join, window, shuffle); the graph and
  near-duplicate operators spend most of their time building plans and
  running eager jobs (lineage cuts) inside ``fn``. The per-layer split
  keeps the two apart per query.

A batch operation is one registry query: ``QuerySpec.fn`` then a noop
write that computes every row. Outputs are checked outside the timed
region against ``reference.json`` (see ``make_reference.py``).
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

import probes

HERE = os.path.dirname(os.path.abspath(__file__))

# scale and table seed of the generated inputs; reference.json holds
# the outputs for exactly these
DATA_SF = 0.1
DATA_SEED = 42

BATCH_QUERIES = (
    # execution-bound fintrack ETL
    "flagship_historical_repair",
    "cdc_apply_roundtrip",
    # construction-bound: large plans and eager jobs inside fn
    "purchase_graph_pagerank",
    "dedup_clusters",
)
WORKLOADS = ("request_stream", "batch_queries")

# request backlog layout: 24 files, 2 per trigger -> 12 micro-batches.
# The warm-up drains the first 8 files: micro-batches of the measured
# size (what the JIT sees), a third of the cost of a full drain.
STREAM_FILES = 24
WARM_UP_FILES = 8
FILES_PER_TRIGGER = 2


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> list[int]:
    """Order-insensitive content fingerprint: [rows, lo, hi], the sums
    of the low and high 32 bits of each row's xxhash64 over its JSON
    form (columns by name; timestamps as UTC strings, so timestamp and
    timestamp_ntz columns holding the same instants agree)."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = c.cast("string")
        cols.append(c.alias(f.name))
    h = F.xxhash64(F.to_json(F.struct(*cols), {"ignoreNullFields": "false"}))
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)),
        F.coalesce(F.sum(F.shiftrightunsigned("h", 32)), F.lit(0)),
    ).head()
    return [int(row[0]), int(row[1]), int(row[2])]


def completion_totals(completions):
    """Per-topic completion sums, as ``stream_pipeline_completions``."""
    return completions.groupBy("topic").agg(
        F.sum("records").alias("records"),
        F.sum("invalid_records").alias("invalid_records"),
        F.sum("dead_letter").alias("dead_letter"),
        F.sum("skipped_empty").alias("skipped_empty"),
    )


def load_reference() -> dict:
    with open(os.path.join(HERE, "reference.json")) as f:
        ref = json.load(f)
    if ref["data"] != {"sf": DATA_SF, "seed": DATA_SEED}:
        raise RuntimeError(f"reference.json is for {ref['data']}, not this data")
    return ref["outputs"]


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it;
    None while that would not even reach the median (n < 20)."""
    pct = int(math.floor(100.0 * (n - 10) / n)) if n > 10 else 0
    return pct if pct >= 50 else None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _covered_s(jobs, lo_ms, hi_ms) -> float:
    ivs = [iv for iv in map(probes.job_interval, jobs) if iv]
    return probes.covered_ms(ivs, lo_ms, hi_ms) / 1e3


class Trace:
    """What a traced operation records into: spans, the status-store
    reader that attributes Spark jobs to the call that launched them,
    and per-sample lists (micro-batch phases, merge times)."""

    def __init__(self, spark) -> None:
        self.tracer = probes.Tracer()
        self.reader = probes.StatusStoreReader(spark)
        self.lists: dict[str, list[float]] = {}

    def extend(self, key: str, xs) -> None:
        self.lists.setdefault(key, []).extend(xs)


class Workload:
    """Shared plumbing: the session, the output reference, accounting.

    ``run_op(name, trace)`` returns ``{"wall_s", "latencies_ms", ...}``
    (None if the operation failed) plus, when traced, ``"layers"``:
    that operation's per-layer values."""

    op_names: list[str]

    def __init__(self, spark, data_dir: str, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.ref = load_reference()
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_ops: set[str] = set()
        self.cores = spark.sparkContext.defaultParallelism

    def check(self, op: str, what: str, got, want) -> None:
        if got != want:
            self.failed_ops.add(op)
            self.failures.append(f"{op} {what}: got {got}, want {want}")

    def record_exception(self, op: str, exc: Exception) -> None:
        self.failed_ops.add(op)
        self.failures.append(f"{op}: {type(exc).__name__}: {str(exc)[:300]}")

    @staticmethod
    def _exec_layers(jobs, stages, wall_s, covered_s) -> dict[str, float]:
        out = {f"spark.exec.{k}": v for k, v in probes.exec_totals(stages).items()}
        out["spark.exec.jobs"] = float(len(jobs))
        out["spark.exec.driver_gap_s"] = max(0.0, wall_s - covered_s)
        out["spark.exec.op_wall_s"] = wall_s
        return out


class BatchWorkload(Workload):
    """One operation per registry query, in an order shuffled by the seed."""

    def __init__(self, spark, data_dir, run_dir, seed, queries) -> None:
        super().__init__(spark, data_dir, run_dir, seed)
        from financial_tracker_etl_spark.queries import registry

        reg = registry()
        self.op_names = list(queries)
        random.Random(seed).shuffle(self.op_names)
        self.specs = {n: reg[n] for n in self.op_names}
        self._ops = 0

    def stage(self) -> None:
        pass

    def warm_up(self) -> None:
        """Two passes at the measured scale: the first checks every
        output, the second runs the timed form (fn + noop write). One
        pass leaves the JIT still compiling through the next."""
        for name in self.op_names:
            self.spark.catalog.clearCache()
            self.attempted += 1
            try:
                fp = fingerprint(self.specs[name].fn(self.spark, self.data_dir))
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self.record_exception(f"warm-up {name}", exc)
                continue
            self.check(f"warm-up {name}", "fingerprint", fp, self.ref[name])
        for name in self.op_names:
            self.run_op(name)

    def run_op(self, name: str, trace: Trace | None = None) -> dict | None:
        self._ops += 1
        # untimed: drop blocks earlier operations left cached
        self.spark.catalog.clearCache()
        self.attempted += 1
        try:
            if trace is not None:
                return self._traced_op(name, trace)
            t0 = time.perf_counter()
            force(self.specs[name].fn(self.spark, self.data_dir))
            wall = time.perf_counter() - t0
            return {"wall_s": wall, "latencies_ms": [wall * 1e3]}
        except probes.RetentionTruncated:
            raise
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            self.record_exception(f"op {self._ops} {name}", exc)
            return None

    def _traced_op(self, name: str, trace: Trace) -> dict:
        tracer, reader = trace.tracer, trace.reader
        q_start = probes.now_ms()
        reader.mark()
        a0, p0 = probes.now_ms(), time.perf_counter()
        df = self.specs[name].fn(self.spark, self.data_dir)
        a1, p1 = probes.now_ms(), time.perf_counter()
        fn_jobs, fn_stages = reader.delta()
        phases = probes.plan_phases_ms(df)
        reader.mark()  # planning launches no job of the query's own
        b0, p2 = probes.now_ms(), time.perf_counter()
        force(df)
        b1, p3 = probes.now_ms(), time.perf_counter()
        f_jobs, f_stages = reader.delta()
        op_span = tracer.add("op", name, q_start, probes.now_ms())
        tracer.add_jobs(fn_jobs, fn_stages, tracer.add("query_fn", name, a0, a1, op_span))
        tracer.add_jobs(f_jobs, f_stages, tracer.add("force", name, b0, b1, op_span))

        fn_s, force_s = p1 - p0, p3 - p2
        fn_cov, f_cov = _covered_s(fn_jobs, a0, a1), _covered_s(f_jobs, b0, b1)
        construct_s = max(0.0, fn_s - fn_cov)
        layers = {
            "queries.fn_s": fn_s,
            f"queries.fn_s.{name}": fn_s,
            "queries.construct_s": construct_s,
            f"queries.construct_s.{name}": construct_s,
            "queries.eager_jobs": float(len(fn_jobs)),
            f"queries.eager_jobs.{name}": float(len(fn_jobs)),
            "spark.exec.force_s": force_s,
            f"spark.exec.force_s.{name}": force_s,
            **{f"spark.plan.{p}_ms": phases.get(p, 0.0)
               for p in ("analysis", "optimization", "planning")},
            **self._exec_layers(fn_jobs + f_jobs, fn_stages + f_stages,
                                fn_s + force_s, fn_cov + f_cov),
        }
        return {"wall_s": fn_s + force_s, "latencies_ms": [(fn_s + force_s) * 1e3],
                "layers": layers}


class StreamWorkload(Workload):
    """One operation: drain the staged backlog, then force the merged
    states. Its latencies are the micro-batches' ``triggerExecution``."""

    op_names = ["drain"]

    def __init__(self, spark, data_dir, run_dir, seed, messages_path) -> None:
        super().__init__(spark, data_dir, run_dir, seed)
        self.messages_path = messages_path
        self.stage_dir = os.path.join(run_dir, "requests")
        self.warm_dir = os.path.join(run_dir, "requests-warm-up")
        self.listener = probes.BatchListener(spark)
        spark.streams.addListener(self.listener)
        self.n_staged = 0
        self._ops = 0

    def stage(self) -> None:
        """Split the request backlog into files by a seeded permutation
        (the broker side of the loop; the pipeline reads the files
        through ``input_dir``)."""
        msgs = pd.read_parquet(self.messages_path)
        perm = np.random.default_rng(self.seed).permutation(len(msgs))
        os.makedirs(self.stage_dir)
        os.makedirs(self.warm_dir)
        for i, idx in enumerate(np.array_split(perm, STREAM_FILES)):
            name = f"part-{i:05d}.json"
            msgs.iloc[np.sort(idx)].to_json(
                os.path.join(self.stage_dir, name), orient="records", lines=True
            )
            if i < WARM_UP_FILES:
                os.link(os.path.join(self.stage_dir, name),
                        os.path.join(self.warm_dir, name))
        self.n_staged = len(msgs)

    def warm_up(self) -> None:
        """Drain and read back part of the backlog. The full-backlog
        output checks run after every measured drain instead."""
        self.run_op("drain", input_dir=self.warm_dir)

    def run_op(self, name: str, trace: Trace | None = None, input_dir=None) -> dict | None:
        from financial_tracker_etl_spark.streaming.pipeline import run_routed_pipeline

        self._ops += 1
        op = f"op {self._ops} drain"
        work_dir = os.path.join(self.run_dir, f"stream-{self._ops}")
        self.spark.catalog.clearCache()
        self.attempted += 1
        reader = trace.reader if trace else None
        try:
            if reader:
                reader.mark()
            d0, t0 = probes.now_ms(), time.perf_counter()
            res = run_routed_pipeline(
                self.spark,
                self.data_dir,
                work_dir=work_dir,
                files_per_trigger=FILES_PER_TRIGGER,
                input_dir=input_dir or self.stage_dir,
            )
            d1, t1 = probes.now_ms(), time.perf_counter()
            drain_jobs, drain_stages = reader.delta() if reader else ([], [])
            reads = []
            for topic in sorted(res.states):
                r0 = probes.now_ms()
                force(res.states[topic].read_merged())
                reads.append((topic, r0, probes.now_ms()))
            t2 = time.perf_counter()
            read_jobs, read_stages = reader.delta() if reader else ([], [])
        except probes.RetentionTruncated:
            raise
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            self.record_exception(op, exc)
            self.listener.drain()
            shutil.rmtree(work_dir, ignore_errors=True)
            return None
        batches = self.listener.drain()
        if input_dir is None:
            self._check_drain(op, res)
        out = {
            "wall_s": t2 - t0,
            "drain_s": t1 - t0,
            "state_read_s": t2 - t1,
            "msgs": sum(b["rows"] for b in batches),
            "latencies_ms": [float(b["duration_ms"]["triggerExecution"]) for b in batches],
        }
        if trace is not None:
            out["layers"] = self._trace_op(
                trace, (d0, d1), batches, drain_jobs, drain_stages, reads,
                read_jobs, read_stages, res, t1 - t0, t2 - t1)
        shutil.rmtree(work_dir, ignore_errors=True)
        return out

    def _check_drain(self, op, res) -> None:
        from financial_tracker_etl_spark.streaming.jobs import TOPIC_MARKET

        rows = res.completions.collect()
        accounted = sum(
            r["records"] + r["invalid_records"] + r["dead_letter"] + r["skipped_empty"]
            for r in rows
        )
        self.check(op, "messages accounted by completions", accounted, self.n_staged)
        self.check(op, "completion totals",
                   fingerprint(completion_totals(res.completions)),
                   self.ref["stream_pipeline_completions"])
        self.check(op, "merged market state vs upsert_market_data",
                   fingerprint(res.state_df(TOPIC_MARKET)),
                   self.ref["upsert_market_data"])

    def _trace_op(self, trace, drain_iv, batches, drain_jobs, drain_stages,
                  reads, read_jobs, read_stages, res, drain_s, read_s) -> dict:
        tracer = trace.tracer
        op_span = tracer.add("op", "drain", drain_iv[0], reads[-1][2])
        drain_span = tracer.add("drain", "run_routed_pipeline", *drain_iv, op_span)
        batch_spans = []
        for b in batches:
            end = b["start_ms"] + float(b["duration_ms"]["triggerExecution"])
            sid = tracer.add("micro_batch", f"batch {b['batch_id']}", b["start_ms"],
                             end, drain_span, rows=b["rows"])
            batch_spans.append((b["start_ms"], end, sid))
        tracer.add_jobs(drain_jobs, drain_stages, drain_span,
                        lambda ms: next((s for lo, hi, s in batch_spans if lo <= ms <= hi), None))
        tracer.reparent_by_time("merge", "micro_batch")
        read_span = tracer.add("state_read", "merged states", reads[0][1], reads[-1][2], op_span)
        forces = [(lo, hi, tracer.add("state_force", t, lo, hi, read_span))
                  for t, lo, hi in reads]
        tracer.add_jobs(read_jobs, read_stages, read_span,
                        lambda ms: next((s for lo, hi, s in forces if lo <= ms <= hi), None))
        tracer.reparent_by_time("read_merged", "state_force")

        def dur(b, k):
            return float(b["duration_ms"].get(k, 0))

        trace.extend("trigger", [dur(b, "triggerExecution") for b in batches])
        trace.extend("addBatch", [dur(b, "addBatch") for b in batches])
        trace.extend("queryPlanning", [dur(b, "queryPlanning") for b in batches])
        trace.extend("walCommit", [dur(b, "walCommit") for b in batches])
        trace.extend("overhead", [dur(b, "triggerExecution") - dur(b, "addBatch")
                                  for b in batches])
        files = nbytes = 0
        for state in res.states.values():
            for root, _, names in os.walk(state.path):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, n))
        msgs = float(sum(b["rows"] for b in batches))
        valid = sum(r["records"] for r in res.completions.collect())
        covered = (_covered_s(drain_jobs, *drain_iv)
                   + _covered_s(read_jobs, reads[0][1], reads[-1][2]))
        return {
            "streaming.pipeline.batches": float(len(batches)),
            "streaming.pipeline.msgs_in": msgs,
            "streaming.pipeline.valid_frac": valid / msgs,
            "streaming.pipeline.msgs_per_s": msgs / drain_s,
            "streaming.state.read_merged_s": read_s,
            "streaming.state.files": float(files),
            "streaming.state.bytes": float(nbytes),
            "spark.exec.force_s": read_s,
            **self._exec_layers(drain_jobs + read_jobs, drain_stages + read_stages,
                                drain_s + read_s, covered),
        }


def make(name, spark, data_dir, run_dir, seed, messages_path):
    if name == "request_stream":
        return StreamWorkload(spark, data_dir, run_dir, seed, messages_path)
    if name == "batch_queries":
        return BatchWorkload(spark, data_dir, run_dir, seed, BATCH_QUERIES)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
