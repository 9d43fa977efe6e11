"""Write ``reference.json``: the checked outputs every benchmark run
compares against.

    python3 perfbench/make_reference.py

For each benchmark query, and for the three registry queries whose
outputs the ``request_stream`` checks reuse, this runs the query
on Spark and its DuckDB oracle over the generated tables, compares them
with ``verify.compare`` (order-insensitive, floats to 17 significant
digits), and records the Spark output's fingerprint only if they
match. Run it again whenever the generated data or the query lists
change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    run_dir = os.path.join(run.WORK, f"reference-{os.getpid()}")
    run.isolate(run_dir)
    import workloads
    from financial_tracker_etl_spark import verify
    from financial_tracker_etl_spark.queries import registry
    from financial_tracker_etl_spark.session import get_spark

    data_dir = run.ensure_tables()
    spark = get_spark("perfbench-reference")
    reg = registry()
    # upsert_market_data: the batch twin the streamed market state is
    # checked against
    names = [*workloads.BATCH_QUERIES, "upsert_market_data",
             "stream_upsert_market_data", "stream_pipeline_completions"]
    outputs, failures = {}, []
    try:
        con = verify.duckdb_connection(data_dir)
        for name in names:
            spec = reg[name]
            ok, msg = verify.compare(
                spec.fn(spark, data_dir).toPandas(), con.execute(spec.oracle).fetchdf()
            )
            print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
            if not ok:
                failures.append(name)
                continue
            outputs[name] = workloads.fingerprint(spec.fn(spark, data_dir))
    finally:
        run.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if failures:
        print(f"oracle mismatches: {failures}; reference.json not written")
        return 1
    if outputs["stream_upsert_market_data"] != outputs["upsert_market_data"]:
        print("streamed market state and batch upsert disagree; not written")
        return 1
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(
            {"data": {"sf": workloads.DATA_SF, "seed": workloads.DATA_SEED},
             "outputs": outputs},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
