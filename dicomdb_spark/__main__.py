"""CLI — the engine's counterpart of the reference's entry points.

The reference shipped as command-line tools (do_dicom_series_DB.py,
do_dicom.py, do_results_DB.py) with optparse flags including a
``-t/--test_db`` dry-run that logged intended writes without executing
(Cenir_DB.py:62,86,123; SURVEY §5.1).  Equivalent surface:

    python -m dicomdb_spark list
    python -m dicomdb_spark query a1_dup_customer_day --sf-dir ... [-n 20]
    python -m dicomdb_spark import --input-dir TREE --db PATH [-t]
    python -m dicomdb_spark bench

``import`` crawls TREE and lands it with ``pipeline.import_tree`` in
the ``serie`` and ``exam`` tables of the DuckDB database at PATH, then
prints the insert/update/noop counts per table as one JSON line.
``-t`` is the dry run against that DB: it opens PATH read-only,
classifies and prints the same counts, and writes nothing.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from dicomdb_spark.session import get_spark

    return get_spark(app_name="dicomdb_spark_cli")


def cmd_list(_args) -> int:
    from dicomdb_spark.registry import ORACLES, QUERIES

    for name in sorted(QUERIES):
        kind = "oracle" if name in ORACLES else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_query(args) -> int:
    from dicomdb_spark.registry import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = _spark()
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def cmd_import(args) -> int:
    import duckdb

    from dicomdb_spark.pipeline import import_tree

    db, dry_run = args.db, args.test
    counts = import_tree(
        _spark(),
        args.input_dir,
        lambda: duckdb.connect(db, read_only=dry_run),
        test=dry_run,
    )
    print(json.dumps({**counts, "dry_run": dry_run}, sort_keys=True))
    return 0


def cmd_sql(args) -> int:
    from dicomdb_spark.io import register_views

    spark = _spark()
    register_views(spark, args.sf_dir)
    spark.sql(args.statement).show(args.limit, truncate=False)
    return 0


def cmd_bench(_args) -> int:
    import bench  # repo-root harness

    bench.main()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dicomdb_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list").set_defaults(fn=cmd_list)
    q = sub.add_parser("query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("-n", "--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=cmd_query)
    imp = sub.add_parser("import")
    imp.add_argument("--input-dir", required=True)
    imp.add_argument("--db", required=True, help="DuckDB database path")
    imp.add_argument("-t", "--test", action="store_true", help="dry run")
    imp.set_defaults(fn=cmd_import)
    sq = sub.add_parser("sql")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("-n", "--limit", type=int, default=20)
    sq.set_defaults(fn=cmd_sql)
    sub.add_parser("bench").set_defaults(fn=cmd_bench)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
