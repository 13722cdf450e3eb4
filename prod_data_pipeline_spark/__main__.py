"""Command-line entry points: ``python -m prod_data_pipeline_spark``.

Operational parity with the reference's shell surface — the Glue job
invocation (``aws glue start-job-run --arguments '{"--ingestion_date":
...}'``, scripts/run_backfill.py:28-40) becomes ``curate``, and the
backfill driver (run_backfill.py:62-89: sequential per-date runs, abort
on first failure) becomes ``backfill``.  Argument validation matches the
job's fail-fast date check (raw_to_curated_events_v3_dq.py:31-37) via the
same validate_date used by the library API.

Exit codes: 0 success, 1 pipeline failure (DQ gate / missing partition —
mirrors run_backfill.py:85-87 raising on the first non-SUCCEEDED state),
2 bad arguments.
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def parse_where_value(raw: str):
    """CLI --where VALUE coercion: int for a plain optional-sign digit
    run, else the string verbatim.  A regex rather than the former
    lstrip("-").isdigit() probe, which accepted "--5" and then crashed
    with an uncaught ValueError from int("--5"); the regex also rejects
    int()-isms like "5_0" or padded whitespace, which stay strings."""
    return int(raw) if re.fullmatch(r"-?\d+", raw) else raw


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="prod_data_pipeline_spark",
        description="Curate raw event NDJSON into the partitioned parquet table.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_shared(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--raw-base", required=True, help="raw NDJSON root")
        sp.add_argument("--curated-base", required=True, help="curated parquet root")
        sp.add_argument("--metrics-base", required=True, help="DQ report root")
        sp.add_argument("--source-system", default="app")
        sp.add_argument(
            "--cpus", type=int, default=None, help="local[N] cores (default: all)"
        )

    c = sub.add_parser("curate", help="run one ingestion date end-to-end")
    add_shared(c)
    c.add_argument("ingestion_date", help="YYYY-MM-DD")

    b = sub.add_parser("backfill", help="run an inclusive date range, abort on failure")
    add_shared(b)
    b.add_argument("start", help="YYYY-MM-DD")
    b.add_argument("end", help="YYYY-MM-DD")
    b.add_argument(
        "--max-parallel", type=int, default=1,
        help="concurrent dates (default 1: sequential, audit-friendly)",
    )

    q = sub.add_parser(
        "query", help="run a registered analytics query against a table directory"
    )
    q.add_argument("name", nargs="?", default=None, help="query name (see --list)")
    q.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01",
        help="directory holding the parquet tables (default: sf0.01 testdata)",
    )
    q.add_argument(
        "--out", default=None,
        help="write the result as parquet here instead of printing",
    )
    q.add_argument("--limit", type=int, default=20, help="rows to print (default 20)")
    q.add_argument("--list", action="store_true", help="list query names and exit")
    q.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    q.add_argument(
        "--cpus", type=int, default=None, help="local[N] cores (default: all)"
    )

    t = sub.add_parser(
        "table",
        help="manifest-table maintenance "
        "(history/compact/rollback/vacuum/delete/compact-deletes)",
    )
    t.add_argument(
        "action",
        choices=[
            "history", "compact", "rollback", "vacuum", "clean-orphans",
            "delete", "compact-deletes",
        ],
        help="maintenance operation",
    )
    t.add_argument("table_path", help="manifest table root directory")
    t.add_argument(
        "--to-version", type=int, default=None, help="rollback target version"
    )
    t.add_argument(
        "--target-file-mb", type=int, default=128,
        help="compact: bin-pack files smaller than this (default 128 MB)",
    )
    t.add_argument(
        "--keep-last", type=int, default=1,
        help="vacuum: versions to retain (default 1)",
    )
    t.add_argument(
        "--older-than-s", type=float, default=3600.0,
        help="clean-orphans: grace window for in-flight commits (default 1h)",
    )
    t.add_argument(
        "--partition-col", default=None,
        help="compact: keep one output file per value of this column "
        "(preserves replace_where provability)",
    )
    t.add_argument(
        "--where", nargs=2, metavar=("COL", "VALUE"), default=None,
        help="delete: the col value equality predicate (int-looking "
        "values are parsed as ints)",
    )
    t.add_argument(
        "--mor", action="store_true",
        help="delete: merge-on-read (an O(manifest) delete entry instead "
        "of rewriting files; fold back later with compact-deletes)",
    )
    t.add_argument(
        "--cpus", type=int, default=None, help="local[N] cores (default: all)"
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from prod_data_pipeline_spark.plans.pipeline import (
        DQGateError,
        backfill,
        curate,
        validate_date,
    )
    from prod_data_pipeline_spark.session import get_spark

    if args.cmd == "query":
        from prod_data_pipeline_spark.plans.queries import QUERIES

        if args.list:
            for name in QUERIES:
                print(name)
            return 0
        if args.name is None:
            print("error: query name required (or --list)", file=sys.stderr)
            return 2
        if args.name not in QUERIES:
            print(f"error: unknown query {args.name!r} (try --list)", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"pdp-query-{args.name}", cpus=args.cpus)
        try:
            df = QUERIES[args.name].fn(spark, args.sf_dir)
            if args.explain:
                df.explain("formatted")
                return 0
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
            else:
                df.show(args.limit, truncate=False)
            return 0
        finally:
            spark.stop()

    if args.cmd == "table":
        from prod_data_pipeline_spark.sources.manifest import (
            clean_orphans,
            compact_deletes,
            delete_where,
            delete_where_mor,
            rewrite_small_files,
            rollback,
            snapshots,
            vacuum,
        )

        if args.action == "history":  # no Spark session needed
            for s in snapshots(args.table_path):
                print(json.dumps({
                    "version": s.version, "mode": s.mode, "n_rows": s.n_rows,
                    "n_files": len(s.files), "meta": s.meta or {},
                }))
            return 0
        if args.action == "vacuum":
            try:
                removed = vacuum(args.table_path, keep_last=args.keep_last)
            except ValueError as ex:
                print(f"error: {ex}", file=sys.stderr)
                return 2
            print(json.dumps({"removed_files": len(removed)}))
            return 0
        if args.action == "clean-orphans":
            removed = clean_orphans(args.table_path, older_than_s=args.older_than_s)
            print(json.dumps({"removed_files": len(removed)}))
            return 0
        if args.action == "rollback":
            if args.to_version is None:
                print("error: rollback requires --to-version", file=sys.stderr)
                return 2
            try:
                s = rollback(args.table_path, args.to_version)
            except (ValueError, FileNotFoundError) as ex:
                print(f"error: {ex}", file=sys.stderr)
                return 1
            print(json.dumps({"version": s.version, "meta": s.meta}))
            return 0
        spark = get_spark(app_name=f"pdp-table-{args.action}", cpus=args.cpus)
        try:
            if args.action == "delete":
                if args.where is None:
                    print("error: delete requires --where COL VALUE",
                          file=sys.stderr)
                    return 2
                col, raw = args.where
                value = parse_where_value(raw)
                if args.mor:
                    s = delete_where_mor(args.table_path, col, value)
                else:
                    s = delete_where(spark, args.table_path, col, value)
                print(json.dumps({
                    "version": s.version, "mode": s.mode,
                    "n_rows": s.n_rows,
                    "pending_deletes": len(s.deletes or {}),
                }))
                return 0
            if args.action == "compact-deletes":
                s = compact_deletes(spark, args.table_path)
                print(json.dumps({
                    "version": s.version, "mode": s.mode, "n_rows": s.n_rows,
                    "pending_deletes": len(s.deletes or {}),
                }))
                return 0
            s = rewrite_small_files(
                spark, args.table_path,
                target_file_bytes=args.target_file_mb * 1024 * 1024,
                partition_col=args.partition_col,
            )
            print(json.dumps({
                "version": s.version, "n_files": len(s.files), "meta": s.meta or {},
            }))
            return 0
        except (FileNotFoundError, TypeError) as ex:
            print(f"error: {ex}", file=sys.stderr)
            return 1
        finally:
            spark.stop()

    try:
        if args.cmd == "curate":
            validate_date(args.ingestion_date)
        else:
            validate_date(args.start)
            validate_date(args.end)
    except ValueError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2

    spark = get_spark(app_name=f"pdp-{args.cmd}", cpus=args.cpus)
    try:
        if args.cmd == "curate":
            report = curate(
                spark,
                args.raw_base,
                args.ingestion_date,
                args.curated_base,
                args.metrics_base,
                source_system=args.source_system,
            )
            print(json.dumps(report, default=str))
            return 0
        result = None
        try:
            result = backfill(
                spark,
                args.raw_base,
                args.start,
                args.end,
                args.curated_base,
                args.metrics_base,
                source_system=args.source_system,
                max_parallel=args.max_parallel,
            )
        except (DQGateError, FileNotFoundError) as ex:
            print(f"backfill aborted: {ex}", file=sys.stderr)
            return 1
        for d in result.succeeded:
            print(f"[{d}] SUCCEEDED")
        print(f"backfill complete: {len(result.succeeded)} dates")
        return 0
    except DQGateError as ex:
        print(f"DQ gate failed: {json.dumps(ex.report, default=str)}", file=sys.stderr)
        return 1
    except FileNotFoundError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
