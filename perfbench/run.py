"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload request_stream --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a source checkout on ``local[<nproc>]`` with the
Spark UI off. Everything it writes stays under ``.perfbench_work/`` in
the checkout: the generated input tables (made once, reused) and a
per-run scratch directory (Python and JVM temp dirs, Spark local dirs,
warehouse, staged requests, stream state) that is removed at exit.

Set-up (``setup_s``) is session launch, staging of the request files
(``request_stream``) and the warm-up at the measured scale, which also
checks outputs. The run then measures operations back to back: at
least one pass, then until ``--seconds`` have elapsed. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` runs one untraced pass,
then traced passes, reports the per-layer metrics and writes the spans
to ``.perfbench_work/traces/``.

stdout: a detail record (host annotations, per-query times, the
workload-specific metrics, failures), then as the last line the result
object ``{"correct", "attempted", "failed", "metrics"}``. A run that
cannot start (no engine package) or outlives ``DEADLINE_S`` exits
non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = os.path.join(ROOT, "financial_tracker_etl_spark")
# a run is killed (no result printed) if it outlives this
DEADLINE_S = 170.0
INPUTS_VERSION = "v1"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
}
SPAN_KINDS = (
    "op", "query_fn", "force", "spark_job", "spark_stage", "drain",
    "micro_batch", "merge", "state_read", "state_force", "read_merged",
)


def per_layer_units(queries) -> dict[str, str]:
    """Every per-layer metric name with its unit; the same set for every
    workload (a layer a workload does not touch reads 0)."""
    units = {"session.launch_s": "s", "jvm.peak_rss_mb": "MB", "queries.fn_s": "s",
             "queries.construct_s": "s", "queries.eager_jobs": "count"}
    for q in queries:
        units[f"queries.fn_s.{q}"] = "s"
        units[f"queries.construct_s.{q}"] = "s"
        units[f"queries.eager_jobs.{q}"] = "count"
    for phase in ("analysis", "optimization", "planning"):
        units[f"spark.plan.{phase}_ms"] = "ms"
    units.update({
        "spark.exec.force_s": "s", "spark.exec.jobs": "count",
        "spark.exec.stages": "count", "spark.exec.tasks": "count",
        "spark.exec.executor_run_s": "s", "spark.exec.executor_cpu_s": "s",
        "spark.exec.gc_s": "s", "spark.exec.input_bytes": "bytes",
        "spark.exec.shuffle_read_bytes": "bytes",
        "spark.exec.shuffle_write_bytes": "bytes",
        "spark.exec.spill_bytes": "bytes", "spark.exec.driver_gap_s": "s",
        "spark.exec.slot_busy_frac": "frac",
    })
    for q in queries:
        units[f"spark.exec.force_s.{q}"] = "s"
    units.update({
        "streaming.pipeline.batches": "count",
        "streaming.pipeline.msgs_in": "count",
        "streaming.pipeline.valid_frac": "frac",
        "streaming.pipeline.msgs_per_s": "1/s",
        "streaming.pipeline.batch_p50_ms": "ms",
        "streaming.pipeline.batch_tail_ms": "ms",
        "streaming.pipeline.add_batch_ms_p50": "ms",
        "streaming.pipeline.query_planning_ms_p50": "ms",
        "streaming.pipeline.wal_commit_ms_p50": "ms",
        "streaming.pipeline.trigger_overhead_ms": "ms",
        "streaming.state.merge_calls": "count",
        "streaming.state.merge_s": "s",
        "streaming.state.merge_ms_p50": "ms",
        "streaming.state.read_merged_s": "s",
        "streaming.state.files": "count",
        "streaming.state.bytes": "bytes",
    })
    for kind in SPAN_KINDS:
        units[f"trace.self_s.{kind}"] = "s"
    units["trace.spans"] = "count"
    units["trace.overhead_s"] = "s"
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    from workloads import WORKLOADS

    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def isolate(run_dir: str) -> None:
    """Point every temp, local and warehouse directory of this process,
    its JVM and its Python workers into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM spark-submit starts (its launcher too): temp files here,
    # and no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _publish(tmp_path: str, final_path: str) -> None:
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    try:
        os.rename(tmp_path, final_path)
    except OSError:  # an identical copy is already there
        shutil.rmtree(tmp_path, ignore_errors=True)


def ensure_tables() -> str:
    """The generated input tables, made once per checkout."""
    import datagen
    from workloads import DATA_SEED, DATA_SF

    path = os.path.join(WORK, "inputs", f"tables-sf{DATA_SF}-seed{DATA_SEED}-{INPUTS_VERSION}")
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp{os.getpid()}"
        datagen.write(tmp, DATA_SF, DATA_SEED)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        _publish(tmp, path)
    return path


def ensure_messages(spark, data_dir: str) -> str:
    """The request backlog ``request_messages`` derives from the tables,
    sorted into a canonical order and kept as one parquet file."""
    from financial_tracker_etl_spark.streaming.pipeline import request_messages

    path = os.path.join(data_dir + "-requests", "messages.parquet")
    if not os.path.isfile(path):
        tmp = f"{os.path.dirname(path)}.tmp{os.getpid()}"
        os.makedirs(tmp)
        pdf = request_messages(spark, data_dir).toPandas()
        pdf = pdf.sort_values(["topic", "payload"], kind="stable").reset_index(drop=True)
        pdf.to_parquet(os.path.join(tmp, "messages.parquet"), index=False)
        _publish(tmp, os.path.dirname(path))
    return path


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids, timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in pids:
        while _alive(pid):
            time.sleep(0.05)


def shutdown(spark) -> None:
    """Stop the session and its JVM; wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(spawned, 30.0)


def _watchdog(run_dir: str) -> threading.Timer:
    """Kill the run, printing no result, if it outlives DEADLINE_S."""

    def fire() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s; aborting", file=sys.stderr)
        kids = _descendants(os.getpid())
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(kids, 10.0)
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()
    return t


def measure(wl, seconds: float, trace=None) -> dict[str, list[dict]]:
    """Operations back to back, cycling through ``wl.op_names``: at
    least one full pass, then until ``seconds`` have elapsed. Returns
    each operation's samples (failed operations leave none)."""
    samples: dict[str, list[dict]] = {n: [] for n in wl.op_names}
    start, i = time.perf_counter(), 0
    while i < len(wl.op_names) or time.perf_counter() - start < seconds:
        name = wl.op_names[i % len(wl.op_names)]
        i += 1
        out = wl.run_op(name, trace)
        if out is not None:
            samples[name].append(out)
    return samples


def _median_wall(runs: list[dict]) -> float:
    return statistics.median(r["wall_s"] for r in runs)


def end_to_end(wl, samples, setup_s) -> tuple[dict, dict]:
    """(gated metrics, workload-specific detail) from untraced samples.
    ``pass_s`` sums each operation's median wall time; the latencies
    are micro-batch times (stream) or per-query median times (batch)."""
    from workloads import geomean, percentile, tail_percentile

    if any(not runs for runs in samples.values()):
        raise RuntimeError("an operation failed on every attempt; no metrics")
    per_op = {n: _median_wall(runs) for n, runs in samples.items()}
    if "drain" in samples:
        lat = [x for r in samples["drain"] for x in r["latencies_ms"]]
    else:
        lat = [v * 1e3 for v in per_op.values()]
    metrics = {
        "setup_s": setup_s,
        "pass_s": sum(per_op.values()),
        "op_p50_ms": statistics.median(lat),
        "op_geomean_ms": geomean(lat),
    }
    detail: dict = {"samples": {n: len(r) for n, r in samples.items()}}
    if "drain" in samples:
        drains = samples["drain"]
        pct = tail_percentile(len(lat))
        detail.update({
            "stream_msgs_per_s": [sum(r["msgs"] for r in drains)
                                  / sum(r["drain_s"] for r in drains), "1/s"],
            "stream_batch_p50_ms": [metrics["op_p50_ms"], "ms"],
            "stream_batch_tail_ms": [percentile(lat, pct) if pct else None, "ms",
                                     {"percentile": pct, "batches": len(lat)}],
            "state_read_s": [statistics.median(r["state_read_s"] for r in drains), "s"],
        })
    else:
        detail.update({
            "batch_pass_s": [metrics["pass_s"], "s"],
            "query_geomean_s": [metrics["op_geomean_ms"] / 1e3, "s"],
            "query_s": per_op,
            "query_order": wl.op_names,
        })
    return metrics, detail


def per_layer(wl, samples, trace, launch_s, rss_mb, untraced_pass_s) -> dict:
    """Per-layer metrics of one pass: each operation's layer values
    averaged over its traced samples, summed over operations."""
    from workloads import BATCH_QUERIES, percentile, tail_percentile

    units = per_layer_units(BATCH_QUERIES)
    v = {k: 0.0 for k in units}
    for runs in samples.values():
        for k in {k for r in runs for k in r["layers"]}:
            if k in v:
                v[k] += sum(r["layers"].get(k, 0.0) for r in runs) / len(runs)
    wall = sum(sum(r["layers"]["spark.exec.op_wall_s"] for r in runs) / len(runs)
               for runs in samples.values())
    v["spark.exec.slot_busy_frac"] = v["spark.exec.executor_run_s"] / (wall * wl.cores)
    v["session.launch_s"] = launch_s
    v["jvm.peak_rss_mb"] = rss_mb
    lists = trace.lists
    trig = lists.get("trigger")
    if trig:
        pct = tail_percentile(len(trig))
        v["streaming.pipeline.batch_p50_ms"] = statistics.median(trig)
        if pct:
            v["streaming.pipeline.batch_tail_ms"] = percentile(trig, pct)
        v["streaming.pipeline.add_batch_ms_p50"] = statistics.median(lists["addBatch"])
        v["streaming.pipeline.query_planning_ms_p50"] = statistics.median(lists["queryPlanning"])
        v["streaming.pipeline.wal_commit_ms_p50"] = statistics.median(lists["walCommit"])
        v["streaming.pipeline.trigger_overhead_ms"] = statistics.median(lists["overhead"])
    merge_ms = lists.get("merge_ms")
    if merge_ms:
        n_drains = len(samples["drain"])
        v["streaming.state.merge_calls"] = len(merge_ms) / n_drains
        v["streaming.state.merge_s"] = sum(merge_ms) / 1e3 / n_drains
        v["streaming.state.merge_ms_p50"] = statistics.median(merge_ms)
    n_passes = sum(len(r) for r in samples.values()) / len(samples)
    for kind, s in trace.tracer.self_time_s().items():
        v[f"trace.self_s.{kind}"] = s / n_passes
    v["trace.spans"] = float(len(trace.tracer.spans))
    v["trace.overhead_s"] = sum(_median_wall(r) for r in samples.values()) - untraced_pass_s
    return {k: {"value": x, "unit": units[k]} for k, x in v.items()}


def run(args, run_dir: str) -> tuple[dict, dict]:
    import probes
    import workloads

    data_dir = ensure_tables()
    t0 = time.perf_counter()
    from financial_tracker_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    launch_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    try:
        messages = ensure_messages(spark, data_dir) if args.workload == "request_stream" else None
        wl = workloads.make(args.workload, spark, data_dir, run_dir, args.seed, messages)
        t1 = time.perf_counter()
        wl.stage()
        wl.warm_up()
        setup_s = launch_s + (time.perf_counter() - t1)

        steal0, load0 = probes.cpu_steal_snapshot(), os.getloadavg()
        if args.trace:
            # one untraced pass first: the traced pass minus it is the
            # tracing overhead
            untraced = measure(wl, 0.0)
            trace = workloads.Trace(spark)
            with probes.patched_state(trace.tracer, trace.lists.setdefault("merge_ms", [])):
                samples = measure(wl, args.seconds, trace)
        else:
            samples = measure(wl, args.seconds)
        steal1, load1 = probes.cpu_steal_snapshot(), os.getloadavg()
        rss_mb = probes.vm_hwm_mb(jvm_pid)
    finally:
        shutdown(spark)

    annotations = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": probes.nproc(), "cpus_effective": wl.cores,
        "loadavg_start": list(load0), "loadavg_end": list(load1),
        "steal_pct": probes.steal_pct(steal0, steal1),
    }
    failed = len(wl.failed_ops)
    detail = {"annotations": annotations, "failed_frac": failed / wl.attempted,
              "failures": wl.failures, "launch_s": launch_s, "setup_s": setup_s,
              "jvm_peak_rss_mb": [rss_mb, "MB"]}
    if args.trace:
        if any(not runs for runs in samples.values()):
            raise RuntimeError("an operation failed on every attempt; no metrics")
        untraced_pass_s = sum(_median_wall(r) for r in untraced.values() if r)
        metrics = per_layer(wl, samples, trace, launch_s, rss_mb, untraced_pass_s)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        trace.tracer.write(trace_path, annotations=annotations,
                           metrics={k: m["value"] for k, m in metrics.items()})
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        e2e, extra = end_to_end(wl, samples, setup_s)
        metrics = {k: {"value": x, "unit": END_TO_END[k]} for k, x in e2e.items()}
        detail.update(extra)
    result = {"correct": failed == 0, "attempted": wl.attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    watchdog = _watchdog(run_dir)
    # engine and Spark chatter goes to stderr; stdout carries only the
    # two result lines
    stdout, sys.stdout = sys.stdout, sys.stderr
    try:
        result, detail = run(args, run_dir)
    finally:
        sys.stdout = stdout
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
