"""The contract between the benchmark's io probe (perfbench/spans.py) and
the store tier: the probe wraps io functions BY NAME, and counts store
traffic through the module globals ``index_store_lookup`` and
``index_store_publish``. A multi-part artifact reaches the store only
through those two, once per part, so a cold build is visible to the
probe part by part."""

import importlib.util
import os

import pytest

import etl_financial_report_spark.io as IO

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _io_layers() -> dict:
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.IO_LAYERS


def test_every_probed_name_is_an_io_attribute():
    for name in _io_layers():
        assert callable(getattr(IO, name, None)), name


@pytest.fixture()
def counted(tmp_path, monkeypatch, fresh_memo):
    """A cold store, with counting wrappers on the two store functions."""
    monkeypatch.setattr(IO, "INDEX_STORE_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", True)
    counts = {"lookups": 0, "publishes": 0}
    lookup, publish = IO.index_store_lookup, IO.index_store_publish

    def counting_lookup(spark, tag, key):
        counts["lookups"] += 1
        return lookup(spark, tag, key)

    def counting_publish(spark, tag, key, df):
        counts["publishes"] += 1
        return publish(spark, tag, key, df)

    monkeypatch.setattr(IO, "index_store_lookup", counting_lookup)
    monkeypatch.setattr(IO, "index_store_publish", counting_publish)
    return counts


def test_cold_residual_index_looks_up_and_publishes_each_part(spark, counted):
    from etl_financial_report_spark.operators import similarity as S

    S._residual_index(spark, SF)
    assert counted == {"lookups": 6, "publishes": 6}


def test_cold_unigram_trainer_looks_up_and_publishes_each_part(spark, counted):
    from etl_financial_report_spark.operators import unigram as U

    U.unigram_corpus_trained(spark, SF)
    assert counted == {"lookups": 2, "publishes": 2}
