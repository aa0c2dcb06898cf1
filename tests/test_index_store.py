"""Persisted index store (r12, VERDICT r11 item 1): the five corpus-level
artifacts route through sources/snapshots.py keyed by corpus content
fingerprint + policy + engine-code fingerprint, so a FRESH SESSION reads
them from disk instead of rebuilding. Contract under test:

  * second-session reuse hits disk, not a rebuild (build callable not
    invoked again after the in-session memo is cleared);
  * results are identical between the built frame and the disk read;
  * a code-fingerprint change (stand-in for an engine edit) is a MISS —
    a durable cache must never serve an artifact built by old code;
  * disabling the store (or MEMO_ENABLED=False) bypasses disk entirely;
  * the unigram trained state and the residual IVF-PQ index make the
    same fresh-session round trip through their multi-frame paths.
"""

import pytest
from pyspark.sql import functions as F

import etl_financial_report_spark.io as IO
from etl_financial_report_spark.io import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def tmp_store(tmp_path, monkeypatch, fresh_memo):
    monkeypatch.setattr(IO, "INDEX_STORE_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", True)
    return str(tmp_path / "store")


def test_fresh_session_reads_disk_not_rebuild(spark, tmp_store):
    calls = []

    def build():
        calls.append(1)
        return (
            load_table(spark, SF, "documents")
            .where(F.col("doc_id") < 10)
            .select("doc_id", F.length("text").alias("n"))
        )

    r1 = IO.memo_checkpoint(spark, SF, "documents", "t_store", build)
    want = _rows(r1)
    assert calls == [1]
    # same session, same key: memo hit
    IO.memo_checkpoint(spark, SF, "documents", "t_store", build)
    assert calls == [1]
    # "fresh session": the in-RAM memo is gone, the store is not
    IO._MEMO_FRAMES.clear()
    r2 = IO.memo_checkpoint(spark, SF, "documents", "t_store", build)
    assert calls == [1], "disk tier must satisfy the fresh session"
    assert _rows(r2) == want
    # and the artifact really lives under the snapshot table layout
    st = IO._index_table("t_store")
    assert st.versions(), "a manifest version must have been published"


def test_code_fingerprint_change_is_a_miss(spark, tmp_store, monkeypatch):
    calls = []

    def build():
        calls.append(1)
        return load_table(spark, SF, "documents").where(
            F.col("doc_id") < 5
        ).select("doc_id")

    IO.memo_checkpoint(spark, SF, "documents", "t_code", build)
    assert calls == [1]
    IO._MEMO_FRAMES.clear()
    # stand-in for an engine source edit between sessions
    monkeypatch.setattr(IO, "_code_fingerprint", lambda mf: "edited-engine")
    IO.memo_checkpoint(spark, SF, "documents", "t_code", build)
    assert calls == [1, 1], "old-code artifact must not be served"


def test_store_disabled_falls_back_to_checkpoint(spark, tmp_store, monkeypatch):
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", False)
    calls = []

    def build():
        calls.append(1)
        return load_table(spark, SF, "documents").where(
            F.col("doc_id") < 5
        ).select("doc_id")

    out = IO.memo_checkpoint(spark, SF, "documents", "t_off", build)
    assert calls == [1] and out.count() == 5
    assert not IO._index_table("t_off").versions()
    IO._MEMO_FRAMES.clear()
    IO.memo_checkpoint(spark, SF, "documents", "t_off", build)
    assert calls == [1, 1]  # no disk, so a fresh session rebuilds


def test_unigram_trained_state_round_trips_fresh_session(spark, tmp_store, monkeypatch):
    from etl_financial_report_spark.operators import unigram as U

    trained = U.unigram_corpus_trained(spark, SF)
    want_vocab = _rows(trained["vocab"])
    want = _rows(trained["seg"].select("tok", "n_pieces"))
    # fresh session: the session memo is gone, trainer forbidden
    IO._MEMO_FRAMES.clear()

    def boom(*a, **k):
        raise AssertionError("trainer must not run on a persisted-state hit")

    monkeypatch.setattr(U, "unigram_train_collected", boom)
    trained = U.unigram_corpus_trained(spark, SF)
    assert _rows(trained["vocab"]) == want_vocab
    assert _rows(trained["seg"].select("tok", "n_pieces")) == want


def test_residual_index_round_trips_fresh_session(spark, tmp_store, monkeypatch):
    from etl_financial_report_spark.operators import similarity as S

    idx1 = S._residual_index(spark, SF)
    want = _rows(idx1["rcodes"])
    IO._MEMO_FRAMES.clear()

    def boom(*a, **k):
        raise AssertionError("trainer must not run on a persisted-index hit")

    # the centroid-sums kernel is the first training job on the build
    # path — a persisted hit must never reach it
    monkeypatch.setattr(S, "_centroid_sums", boom)
    idx2 = S._residual_index(spark, SF)
    assert set(idx2) == set(idx1)
    assert _rows(idx2["rcodes"]) == want


def test_publish_frees_build_internal_checkpoints(spark, tmp_store):
    """r12 leak fix: when the publish succeeds, the build's INTERNAL
    localCheckpoints (training intermediates) are unpersisted — the disk
    read replaces them — while a NESTED memo entry cached inside the
    build window keeps its blocks (freeing those would corrupt the live
    cache entry)."""
    from pyspark.sql import functions as F

    def build():
        # an internal intermediate the builder pins (the fb/words shape)
        inner = (
            load_table(spark, SF, "documents")
            .where(F.col("doc_id") < 20)
            .select("doc_id")
            .localCheckpoint()
        )
        return inner.groupBy().agg(F.count(F.lit(1)).alias("n"))

    before = IO._persistent_rdd_ids(spark)
    out = IO.memo_checkpoint(spark, SF, "documents", "t_leak", build)
    assert out.collect()[0]["n"] == 20
    after = IO._persistent_rdd_ids(spark)
    assert after - before == frozenset(), (
        "publish success must leave zero new pinned RDDs (disk-backed hit)"
    )


def test_publish_protects_nested_memo_checkpoints(spark, tmp_store, monkeypatch):
    """A nested memo miss that falls back to a checkpoint (publish
    failed for the INNER only) must survive the outer build's cleanup."""
    from pyspark.sql import functions as F

    inner_frame = {}

    def inner_build():
        return (
            load_table(spark, SF, "documents")
            .where(F.col("doc_id") < 5)
            .select("doc_id")
        )

    real_publish = IO.index_store_publish

    def failing_inner_publish(spark_, tag, key, df):
        if tag == "t_inner":
            return None  # force the inner onto the checkpoint path
        return real_publish(spark_, tag, key, df)

    monkeypatch.setattr(IO, "index_store_publish", failing_inner_publish)

    def outer_build():
        inner = IO.memo_checkpoint(spark, SF, "documents", "t_inner", inner_build)
        inner_frame["df"] = inner
        return inner.groupBy().agg(F.count(F.lit(1)).alias("n"))

    out = IO.memo_checkpoint(spark, SF, "documents", "t_outer", outer_build)
    assert out.collect()[0]["n"] == 5
    # the nested entry's checkpoint must still be readable (not freed)
    assert inner_frame["df"].count() == 5


def test_vacuum_spares_a_version_served_from_a_lookup(spark, tmp_store, monkeypatch):
    """A lookup may hit the OLDEST retained version; a later publish to
    the family vacuums past the retention edge, and must not delete the
    files the served frame still scans."""
    monkeypatch.setattr(IO, "_INDEX_KEEP_VERSIONS", 3)

    def rows(i):
        return spark.range(i, i + 4).selectExpr("id", f"{i} AS k")

    for i in range(IO._INDEX_KEEP_VERSIONS):
        IO.index_store_publish(spark, "t_edge", f"k{i}", rows(i))
    served = IO.index_store_lookup(spark, "t_edge", "k0")
    IO.index_store_publish(spark, "t_edge", "k3", rows(3))
    IO.index_store_publish(spark, "t_edge", "k4", rows(4))
    assert _rows(served) == [(i, 0) for i in range(4)]
    # vacuum still runs: the unserved v1 is gone
    assert IO._index_table("t_edge").versions() == [0, 2, 3, 4]
