import os
import sys
from pathlib import Path

import pytest

# the checkout this suite lives in, never another copy of the package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Test sessions default to 8 cores (optimization r15, driver test
# budget): at test scale (sf0.001 + synthetic frames) per-query time is
# fixed overhead — scheduling, Catalyst, tiny tasks — and 32 cores only
# add shuffle-partition and scheduling cost (PERF_r14 scaling block: 8
# cores ≈ or faster than 32 across the suite; measured here: the same
# heavy test file 95 s at 8 vs 123 s at 32). setdefault respects an
# explicit SPARK_GRAFT_CPUS from the environment.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from etl_financial_report_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def fresh_memo():
    """An empty session memo for the test (io.session_memo's one dict);
    the entries it held before come back afterwards."""
    import etl_financial_report_spark.io as IO

    saved = dict(IO._MEMO_FRAMES)
    IO._MEMO_FRAMES.clear()
    yield IO._MEMO_FRAMES
    IO._MEMO_FRAMES.clear()
    IO._MEMO_FRAMES.update(saved)
