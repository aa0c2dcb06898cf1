"""Order-insensitive output digests and the DuckDB-oracle expected file.

A digest is the md5 of ``tools/check_parity.py``'s strict normalisation of a
result (columns sorted by name, floats through ``repr``, timestamps as ISO
strings, rows sorted), so equal digests mean the Spark result and the oracle
result agree exactly.

Regenerate the expected digests (after a change to the generator or to the
workload lists) with:

    python3 perfbench/digest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")


def _check_parity():
    """``tools/check_parity.py``, imported on first use: it imports the
    package's io module, which must not load before the run has pointed
    ``SPARK_GRAFT_INDEX_ROOT`` at its own store."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_parity

    return check_parity


def frame_digest(df: pd.DataFrame) -> str:
    return hashlib.md5(repr(_check_parity().normalize(df)).encode()).hexdigest()


def load_expected() -> dict[str, str]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each query's oracle SQL run by DuckDB over ``sf_dir``."""
    from etl_financial_report_spark import registry

    oracle = registry.oracle_sql()
    con = _check_parity().duck_con(sf_dir)
    return {n: frame_digest(con.sql(oracle[n]).df()) for n in names}


def main() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    from workloads import WORKLOADS

    sf_dir = datagen.ensure_tables(os.path.join(HERE, ".work"))
    names = sorted({n for w in WORKLOADS.values() for n in w.queries})
    with open(EXPECTED_PATH, "w") as f:
        json.dump(oracle_digests(sf_dir, names), f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
