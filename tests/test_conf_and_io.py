"""ADVICE r3 regression pins: byte-suffixed conf parsing (a hostile
driver session may set size confs in any of Spark's human-readable forms)
and recursive table metadata (a partitioned layout must never silently
undercount to 0 and shrink derived plan parameters)."""

import os
from pathlib import Path

import pytest

from etl_financial_report_spark.io import table_row_count, table_size_bytes
from etl_financial_report_spark.session import parse_bytes_conf


def test_parse_bytes_conf_accepts_full_spark_grammar():
    assert parse_bytes_conf("134217728") == 128 * 1024 * 1024
    assert parse_bytes_conf("134217728b") == 128 * 1024 * 1024
    assert parse_bytes_conf("128MB") == 128 * 1024 * 1024
    assert parse_bytes_conf("128mb") == 128 * 1024 * 1024
    assert parse_bytes_conf("64m") == 64 * 1024 * 1024
    assert parse_bytes_conf("1g") == 1 << 30
    assert parse_bytes_conf(" 512k ") == 512 * 1024
    assert parse_bytes_conf("2t") == 2 << 40
    with pytest.raises(ValueError):
        parse_bytes_conf("12 parsecs")
    with pytest.raises(ValueError):
        parse_bytes_conf("mb")


def test_sim_topk_arrow_survives_human_readable_conf(spark):
    """The exact hostile-session failure from ADVICE r3: a session with
    maxPartitionBytes set as '128MB' must still plan sim_topk_arrow."""
    from etl_financial_report_spark import registry

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
    try:
        df = registry.all_queries()["sim_topk_arrow"].fn(
            spark, "/root/testdata/sf0.001"
        )
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_table_metadata_recurses_partitioned_layout(spark, tmp_path):
    """row-count/size metadata reads must see data files nested under
    key=value partition dirs, not just the top level."""
    src = "/root/testdata/sf0.001"
    flat_rows = table_row_count(src, "documents")
    flat_bytes = table_size_bytes(src, "documents")
    assert flat_rows > 0 and flat_bytes > 0

    part_dir = tmp_path / "documents.parquet"
    spark.read.parquet(os.path.join(src, "documents.parquet")).write.partitionBy(
        "source"
    ).parquet(str(part_dir))
    assert table_row_count(str(tmp_path), "documents") == flat_rows
    # partition-pruned column moves from data files into dir names, so the
    # partitioned copy is smaller-or-similar but must be far from zero
    assert table_size_bytes(str(tmp_path), "documents") > 0


def test_index_store_report_tool_runs(spark, tmp_path, monkeypatch, fresh_memo):
    """tools/index_store_report.py: pure-metadata report over the store
    layout — runs without a Spark session, prints one line per family
    plus a TOTAL, and honors --root/--json."""
    import json
    import subprocess
    import sys

    import etl_financial_report_spark.io as IO
    from etl_financial_report_spark.io import load_table

    monkeypatch.setattr(IO, "INDEX_STORE_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", True)
    IO.memo_checkpoint(
        spark,
        "/root/testdata/sf0.001",
        "documents",
        "t_report",
        lambda: load_table(spark, "/root/testdata/sf0.001", "documents")
        .limit(7)
        .select("doc_id"),
    )
    out_json = str(tmp_path / "report.json")
    proc = subprocess.run(
        [
            sys.executable,
            str(Path(__file__).resolve().parents[1] / "tools" / "index_store_report.py"),
            "--root",
            str(tmp_path / "store"),
            "--json",
            out_json,
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "t_report" in proc.stdout and "TOTAL" in proc.stdout
    rep = json.load(open(out_json))
    assert rep["t_report"][0]["rows"] == 7


def test_stats_reset_checkpoint_drops_the_carried_size_estimate(spark):
    """``localCheckpoint`` carries the input's size estimate into its
    LogicalRDD (in a contraction loop it compounds and hangs Catalyst);
    ``stats_reset_checkpoint`` rebuilds the frame over the same rows so
    the estimate is ``spark.sql.defaultSizeInBytes``. If the internal
    constructor it relies on moves, the fallback returns the plain
    checkpoint and this fails."""
    from etl_financial_report_spark.io import stats_reset_checkpoint

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    default = parse_bytes_conf(spark.conf.get("spark.sql.defaultSizeInBytes"))
    assert size(df) < default
    assert size(df.localCheckpoint()) == size(df)
    reset = stats_reset_checkpoint(df)
    assert size(reset) == default
    assert sorted(tuple(r) for r in reset.collect()) == [(i, 2 * i) for i in range(1000)]


@pytest.mark.parametrize(
    "rows",
    [[("a", 1, None), ("b", 2, 0.5)], []],
    ids=["rows", "empty"],
)
def test_driver_frame_is_a_local_relation_with_the_ddl_schema(spark, rows):
    """Driver rows become a job-free ``LocalRelation`` (no Python RDD
    behind the frame) whose schema is the DDL, nullability included."""
    from pyspark.sql.types import StructType

    from etl_financial_report_spark.io import driver_frame

    ddl = "k string, n int NOT NULL, x double"
    df = driver_frame(spark, rows, ddl)
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_stats_reset_checkpoint_fallback_warns_once(spark, monkeypatch, caplog):
    """When the internal constructor is missing, the plain checkpoint is
    served (same rows) and one warning says the estimate now compounds."""
    import etl_financial_report_spark.io as IO

    def missing(*_a):
        raise AttributeError("internalCreateDataFrame")

    monkeypatch.setattr(IO, "DataFrame", missing)
    monkeypatch.setattr(IO, "_STATS_RESET_WARNED", False)
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    with caplog.at_level("WARNING", logger=IO.__name__):
        outs = [IO.stats_reset_checkpoint(df) for _ in range(2)]
    for out in outs:
        assert sorted(tuple(r) for r in out.collect()) == [(i, 2 * i) for i in range(10)]
    warned = [r for r in caplog.records if "stats_reset_checkpoint" in r.getMessage()]
    assert len(warned) == 1
