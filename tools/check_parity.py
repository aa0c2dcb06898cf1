"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, sorted column names, and an
order-insensitive value comparison that is STRICTER than any sane driver
hash (floats compared bit-for-bit via repr, timestamps via isoformat).

STRICT by default (r7): replicates the driver's `_canon`, which dies on
any array-typed column and records `err: no_oracle` for oracle-less
queries — both count as FAIL here, exactly as they'd be red driver rows.
`--lenient-arrays` restores the old tuple-converting compare.

Usage:
    python tools/check_parity.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import sys
from pathlib import Path
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_financial_report_spark import registry  # noqa: E402
from etl_financial_report_spark.io import TABLES  # noqa: E402
from etl_financial_report_spark.session import get_spark  # noqa: E402


#: DuckDB resource caps: at its default (80% of RAM, every core) one
#: oracle can take the host's memory from a Spark session or test suite
#: running beside the sweep
DUCKDB_MEMORY_LIMIT = "3GB"
DUCKDB_THREADS = 2


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    con.execute(f"SET threads = {DUCKDB_THREADS}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class DriverCanonError(TypeError):
    """Raised (strict mode, the default) on any value the DRIVER's
    canonicalizer cannot handle: its pandas sort_values over raw column
    values dies with `TypeError: unhashable type: 'numpy.ndarray'` on any
    array-typed column (CORRECTNESS_r06's two red rows), so a query that
    'passes' here via tuple conversion would still be driver-red."""


def norm_val(v, strict: bool = True):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.floating):
        return repr(float(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        if strict:
            raise DriverCanonError(
                f"non-scalar cell of type {type(v).__name__} — the driver "
                "canonicalizer cannot sort this; serialize the column "
                "(functions/canon.py) before registering"
            )
        return tuple(norm_val(x, strict=False) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize(df: pd.DataFrame, strict: bool = True):
    cols = sorted(df.columns)
    rows = [
        tuple(norm_val(v, strict) for v in t)
        for t in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--hostile",
        action="store_true",
        help=(
            "build a driver-like session (non-UTC tz, default confs) instead "
            "of get_spark — every query must still pass, because the driver "
            "constructs its own session and only prep_session (applied per "
            "query by the registry wrapper) may be relied on"
        ),
    )
    ap.add_argument(
        "--lenient-arrays",
        action="store_true",
        help=(
            "tuple-convert array cells instead of failing them (the pre-r7 "
            "behavior). Default is STRICT — the driver's canonicalizer "
            "errors on array columns, so strict is what actually ships"
        ),
    )
    ap.add_argument(
        "--json",
        metavar="OUT",
        help=(
            "also write a machine-readable artifact: per-query status + "
            "row count + wall seconds and a summary block (the committed "
            "PARITY_SF*.json round artifacts)"
        ),
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    strict = not args.lenient_arrays

    all_q = registry.all_queries()
    names = args.names or sorted(all_q)
    if args.hostile:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("parity-hostile")
            .config("spark.sql.session.timeZone", "Asia/Jakarta")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("parity-check")
    con = duck_con(args.sf_dir)

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}

    def record(name: str, status: str, rows: int, t0: float) -> None:
        results[name] = {
            "status": status,
            "rows": rows,
            "sec": round(time.time() - t0, 2),
        }

    for name in names:
        q = all_q[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            record(name, f"fail:spark:{type(e).__name__}", 0, t0)
            n_fail += 1
            continue
        if q.oracle is None:
            if strict:
                # the driver records `err: no_oracle` for these — a red row
                print(f"FAIL  {name}: no oracle (driver records err: no_oracle)")
                record(name, "fail:no_oracle", len(sdf), t0)
                n_fail += 1
            else:
                print(f"rows  {name}: {len(sdf)} rows (rows-only check, no oracle) [{time.time()-t0:.1f}s]")
                record(name, "rows_only", len(sdf), t0)
                n_rows_only += 1
            continue
        try:
            odf = con.sql(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            record(name, f"fail:duckdb:{type(e).__name__}", len(sdf), t0)
            n_fail += 1
            continue
        try:
            s_cols, s_rows = normalize(sdf, strict)
            o_cols, o_rows = normalize(odf, strict)
        except DriverCanonError as e:
            print(f"FAIL  {name}: {e}")
            record(name, "fail:canon", len(sdf), t0)
            n_fail += 1
            continue
        if s_cols != o_cols:
            print(f"FAIL  {name}: columns differ spark={s_cols} oracle={o_cols}")
            record(name, "fail:columns", len(sdf), t0)
            n_fail += 1
            continue
        if len(s_rows) != len(o_rows):
            print(f"FAIL  {name}: row count spark={len(s_rows)} oracle={len(o_rows)}")
            record(name, "fail:rowcount", len(sdf), t0)
            n_fail += 1
            continue
        if s_rows != o_rows:
            bad = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            print(f"FAIL  {name}: values differ at sorted-row {bad}:")
            print(f"      spark : {s_rows[bad]}")
            print(f"      oracle: {o_rows[bad]}")
            record(name, "fail:values", len(sdf), t0)
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        record(name, "pass", len(s_rows), t0)
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    if args.json:
        import json as _json

        with open(args.json, "w") as f:
            _json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "hostile": args.hostile,
                    "strict": strict,
                    "n_queries": len(names),
                    "subset": bool(args.names),
                    "summary": {
                        "pass": n_pass,
                        "fail": n_fail,
                        "rows_only": n_rows_only,
                    },
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
