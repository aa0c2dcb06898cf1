"""SparkSession construction and runtime-conf preparation.

The reference is a single-threaded tkinter app (mainTesting.py:822-848);
it has no session concept. Here the session is the engine: AQE on,
shuffle parallelism sized to cores (not the 200 default), UTC timezone
(duckdb oracle timestamps are UTC-naive), Arrow enabled for the Pandas
UDF paths.

Two entry points:
  * ``get_spark()``      — build a session (tests, bench, CLI).
  * ``prep_session(s)``  — set the *runtime-settable* confs on a session
    we did not build (the driver passes its own session into
    ``__spark_entry__.entry``/``queries()`` callables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that can be applied to an already-running session (runtime-settable).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark 4
    # rejects by default; read as long and rebuild the timestamp in io.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # optimization r14 (guide §3.1/§9): the explicit-broadcast hints carry
    # the load-bearing joins, but several dimension-sized sides sit between
    # the 10 MB default and 32 MB — pinning the threshold at runtime makes
    # a driver-built session plan the same joins the bench session does
    # (get_spark has set 32 MB since r1). preferSortMergeJoin=false lets
    # the planner take a shuffled-hash join when its per-partition build
    # fits — no sort, same result; at 100 TB AQE's skew split still
    # applies to SHJ and the size conditions guard the build side
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # optimization r14 note (guide §6): lowering files.openCostInBytes
    # (4 MB -> 256 KB) was measured BOTH ways and rejected — it buys
    # ~25% on flat scan+agg queries (tpch_q1 1.54 -> 1.16 s: the 4 MB
    # floor packs an 11 MB table into 3 splits) but COSTS ~1-2 s on
    # deep multi-scan plans (sim_ann_ivfpq_recall_eval 5.7 -> 7.2 s:
    # every re-scan of a sub-MB table becomes a flood of tiny tasks
    # through ~50 AQE stages). Suite-net negative; the default stays.
    # SHJ when the per-partition build fits: AQE's skew split still
    # applies to SHJ, and the planner's size conditions guard the build
    # side (OPTIMIZATION_r15.md §11 has the measured skew run)
    "spark.sql.join.preferSortMergeJoin": "false",
    # At 100 TB this is sized per-cluster; locally ~cores avoids both
    # over-splitting tiny data and starving big shuffles.
    "spark.sql.shuffle.partitions": None,  # filled from cpu count below
}


#: multipliers for Spark's byte-suffixed conf grammar (JavaUtils
#: .byteStringAsBytes): bare number = bytes; suffixes case-insensitive.
_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_bytes_conf(value: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '134217728b',
    '128MB', '64m', '1g', ...) to bytes. A driver-built session can carry
    any human-readable form, so plan-time reads of size confs must accept
    the full grammar, not just the bare-number default."""
    s = str(value).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    if not num or (suffix and suffix not in _BYTE_SUFFIXES):
        raise ValueError(f"unparseable byte-size conf value: {value!r}")
    return int(num) * _BYTE_SUFFIXES.get(suffix, 1)


def arrow_memo_cap(spark: SparkSession) -> int:
    """Per-task hash-memo entry cap for the mapInArrow kernels (lang-id
    feats, winnowing), sized from ``spark.python.worker.memory`` instead
    of a constant (VERDICT r14: a fixed 4M-entry cap is ~400 MB worst
    case PER PYTHON WORKER, ~12 GB at local[32] on adversarial
    high-entropy input). Budget: half the worker's memory at ~100 B per
    dict entry (str key + int + dict overhead), floored at 64k entries so
    the memo stays useful on tiny workers and ceilinged at the audited
    4M. A capped miss only recomputes the hash — never wrong results."""
    try:
        mem = parse_bytes_conf(spark.conf.get("spark.python.worker.memory", "512m"))
    except Exception:
        mem = 512 << 20
    return max(1 << 16, min(1 << 22, mem // 200))


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 4


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not construct.

    Safe to call repeatedly; every registered query calls this so results
    are deterministic regardless of who built the session.
    """
    for k, v in _RUNTIME_CONF.items():
        if v is None:
            v = str(_cpus())
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be marked static on some builds — never fatal
            pass
    return spark


def get_spark(app_name: str = "etl-financial-report-spark") -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    return prep_session(spark)
