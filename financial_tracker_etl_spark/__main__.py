"""Module CLI — the engine's counterpart to the reference's
``python -m etl.main consume`` entry point (reference: etl/main.py:244-248).

    python -m financial_tracker_etl_spark list
    python -m financial_tracker_etl_spark run <query> [--sf-dir DIR] [--limit N]
    python -m financial_tracker_etl_spark explain <query> [--sf-dir DIR]
    python -m financial_tracker_etl_spark profile <query> [--sf-dir DIR]
    python -m financial_tracker_etl_spark verify [names...] [--sf-dir DIR]
    python -m financial_tracker_etl_spark pipeline [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="financial_tracker_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    for name in ("run", "explain", "profile"):
        s = sub.add_parser(
            name,
            help="execute and print per-operator runtime SQLMetrics"
            " and the stage totals of every job the query ran"
            if name == "profile"
            else None,
        )
        s.add_argument("query")
        s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            s.add_argument("--limit", type=int, default=20)

    v = sub.add_parser("verify", help="differential check vs DuckDB")
    v.add_argument("names", nargs="*")
    v.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    pl = sub.add_parser("pipeline", help="run the streaming request pipeline")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    sch = sub.add_parser(
        "schedule",
        help="ST6 daily index-job trigger (reference: etl/scheduler.py)",
    )
    sch.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sch.add_argument("--at", default="16:00", help="daily firing time HH:MM")
    sch.add_argument(
        "--once", action="store_true", help="fire one tick immediately and exit"
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .queries import registry

    reg = registry()

    if args.cmd == "list":
        for name, spec in sorted(reg.items()):
            kind = "oracle" if spec.oracle else "rows-only"
            bench = " [bench]" if spec.bench else ""
            print(f"{name:40s} {kind}{bench}")
        return 0

    from .session import get_spark

    if args.cmd in ("run", "explain", "profile"):
        if args.query not in reg:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        spark = get_spark(f"cli-{args.cmd}")
        if args.cmd == "profile":
            from .profile import (
                collect_metrics,
                format_profile,
                format_stage_totals,
                stage_delta_metrics,
                stage_snapshot,
            )

            # mark before fn: queries run eager jobs while building
            mark = stage_snapshot(spark)
            rows = collect_metrics(reg[args.query].fn(spark, args.sf_dir))
            print(format_profile(rows))
            print(format_stage_totals(stage_delta_metrics(spark, mark)))
            return 0
        df = reg[args.query].fn(spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
        return 0

    if args.cmd == "verify":
        from . import verify

        sys.argv = ["verify", args.sf_dir, *args.names]
        return verify.main()

    if args.cmd == "schedule":
        from .streaming.scheduler import schedule_index_job

        spark = get_spark("cli-schedule")
        return schedule_index_job(
            spark, args.sf_dir, at=args.at, once=args.once
        )

    if args.cmd == "pipeline":
        from .streaming.jobs import JOBS
        from .streaming.pipeline import run_routed_pipeline

        spark = get_spark("cli-pipeline")
        res = run_routed_pipeline(spark, args.sf_dir)
        res.completions.groupBy("topic").sum().show(truncate=False)
        for job in JOBS:
            n = res.state_df(job.topic).count()
            print(f"{job.topic}: {n} state rows")
        print(f"{res.n_batches} micro-batches")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
