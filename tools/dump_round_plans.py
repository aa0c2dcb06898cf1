"""Dump per-query formatted plans for a round's before/after evidence.

Usage: python tools/dump_round_plans.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt with `.explain("formatted")` output.
Unlike tools/dump_plans.py (which disables the memo layer to audit the
raw build plans), this dumps the EXECUTED shape — memoized/persisted
artifacts appear as their checkpoint/store scans, exactly what the bench
session runs — because optimization evidence is about the executed plan.
A header records the memo mode so a reader can't confuse the two.

Values that differ between two runs of the same code are masked (see
``mask``), so the dumps of two commits diff to their real plan changes:
``diff -r before/ after/`` after dumping each with its own SUFFIX renamed
to a common one, or ``diff a_before.txt a_after.txt`` per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_financial_report_spark import registry  # noqa: E402
from etl_financial_report_spark.plans import formatted_plan  # noqa: E402
from etl_financial_report_spark.session import get_spark  # noqa: E402

#: (pattern, replacement) for every per-run value in a formatted plan:
#: the session's plan ids, Catalyst expression ids (``vec_id#123L``),
#: lambda variable and RDD ids (``lambda x_57``, ``MapPartitionsRDD[175]``
#: — numbered by what the session built before, so they move with the
#: list of dumped queries), and the index store's per-publish commit and
#: part-file names
_RUN_VALUES = (
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"lambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"commit-v\d+-[0-9A-Za-z]+"), "commit-vN-H"),
    (re.compile(r"part-[0-9A-Za-z-]+?(?=[.,\]\s]|$)"), "part-U"),
)


def mask(plan: str) -> str:
    """``plan`` with its per-run values replaced by fixed placeholders."""
    for pattern, repl in _RUN_VALUES:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-round-plans")
    spark.sparkContext.setLogLevel("ERROR")
    all_q = registry.all_queries()
    for name in names:
        df = all_q[name].fn(spark, sf_dir)
        plan = mask(formatted_plan(df))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — {suffix} (executed shape: memo/store layer ON;"
                " checkpointed/persisted artifacts appear as RDD/parquet scans)\n"
            )
            f.write(plan)
        print(path, flush=True)


if __name__ == "__main__":
    main()
