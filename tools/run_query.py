"""Run one registered query and print its result (debug/demo CLI).

Usage:
    python tools/run_query.py <name> [--sf-dir DIR] [--limit N] [--explain]
    python tools/run_query.py --list
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_financial_report_spark import registry  # noqa: E402
from etl_financial_report_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", nargs="?")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--explain", action="store_true", help="print the formatted physical plan too")
    ap.add_argument("--list", action="store_true", help="list registered queries")
    args = ap.parse_args()

    qs = registry.all_queries()
    if args.list or not args.name:
        for name in sorted(qs):
            q = qs[name]
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {q.doc or ''}")
        return

    if args.name not in qs:
        sys.exit(f"unknown query {args.name!r}; --list shows all")

    spark = get_spark("run-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    print(f"(total rows: {df.count()})")


if __name__ == "__main__":
    main()
