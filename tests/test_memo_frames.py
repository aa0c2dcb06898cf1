"""Cross-query memo checkpoints (r11): the persisted-index pattern's
correctness contract — a memoized frame must be (a) result-identical to
the pure build, (b) reused within a (session, corpus snapshot) key,
(c) invalidated when the corpus file changes, and (d) bypassed entirely
when io.MEMO_ENABLED is False (the plan-audit escape hatch)."""

import os
import shutil

from pyspark.sql import functions as F

import etl_financial_report_spark.io as IO
from etl_financial_report_spark.io import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_memoized_equals_pure_build(spark):
    from etl_financial_report_spark.operators.dedup import (
        _minhash_signature,
        _minhash_signature_of,
    )

    pure = _rows(_minhash_signature_of(load_table(spark, SF, "documents")))
    memo1 = _minhash_signature(spark, SF)
    memo2 = _minhash_signature(spark, SF)
    assert _rows(memo1) == pure
    # same key -> the SAME materialized frame object is returned
    assert memo1 is memo2


def test_memo_disabled_bypasses_cache(spark):
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    warm = _minhash_signature(spark, SF)
    old = IO.MEMO_ENABLED
    IO.MEMO_ENABLED = False
    try:
        cold = _minhash_signature(spark, SF)
        assert cold is not warm  # pure build, not the cached checkpoint
        assert _rows(cold) == _rows(warm)
    finally:
        IO.MEMO_ENABLED = old


def test_memo_invalidates_on_corpus_change(spark, tmp_path):
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    root = str(tmp_path)
    src = load_table(spark, SF, "documents").where(F.col("doc_id") < 50)
    src.coalesce(1).write.parquet(f"{root}/documents.parquet")
    first = _minhash_signature(spark, root)
    n_first = first.count()

    shutil.rmtree(f"{root}/documents.parquet")
    src2 = load_table(spark, SF, "documents").where(F.col("doc_id") < 20)
    src2.coalesce(1).write.parquet(f"{root}/documents.parquet")
    # parquet dir mtime changed -> new key -> fresh build over new data
    os.utime(f"{root}/documents.parquet")
    second = _minhash_signature(spark, root)
    assert second.count() == 20
    assert n_first == 50


def test_memo_invalidates_without_mtime_change(spark, tmp_path):
    """ADVICE r11: the memo key is a CONTENT fingerprint (file names,
    sizes, footer row counts), so a corpus rewritten at the same path is
    a miss even when the filesystem mtime does not move — no os.utime
    crutch needed."""
    from etl_financial_report_spark.operators.dedup import _minhash_signature

    root = str(tmp_path)
    path = f"{root}/documents.parquet"
    src = load_table(spark, SF, "documents").where(F.col("doc_id") < 50)
    src.coalesce(1).write.parquet(path)
    # freeze every file's mtime to a fixed instant
    fixed = 1_500_000_000
    for base, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(base, f), (fixed, fixed))
    os.utime(path, (fixed, fixed))
    assert _minhash_signature(spark, root).count() == 50

    shutil.rmtree(path)
    src2 = load_table(spark, SF, "documents").where(F.col("doc_id") < 20)
    src2.coalesce(1).write.parquet(path)
    for base, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(base, f), (fixed, fixed))
    os.utime(path, (fixed, fixed))
    # same path, same pinned mtimes — sizes/row counts differ -> rebuild
    assert _minhash_signature(spark, root).count() == 20


def test_memo_eviction_unpersists_checkpoint_blocks(spark, tmp_path):
    """ADVICE r11: FIFO eviction must FREE the evicted frame's
    checkpoint blocks (rdd unpersist), not just drop the dict
    reference — verified against the JVM's persistent-RDD registry."""
    from etl_financial_report_spark.io import _persistent_rdd_ids, unpersist_tracked

    df = load_table(spark, SF, "documents").where(F.col("doc_id") < 5)
    before = _persistent_rdd_ids(spark)
    ck = df.localCheckpoint()
    ids = _persistent_rdd_ids(spark) - before
    assert ids, "localCheckpoint should pin at least one RDD"
    assert ck.count() == 5
    unpersist_tracked(spark, ids)
    assert not (ids & _persistent_rdd_ids(spark))


def test_memo_frames_cap_evicts_and_frees(spark, tmp_path, fresh_memo, monkeypatch):
    """Filling the memo past its FIFO cap unpersists the oldest entry's
    blocks end-to-end through memo_checkpoint itself (store disabled so
    the localCheckpoint path — the one that pins blocks — is the one
    under test; disk-backed hits pin nothing by construction). The entry
    owns the builder's INTERNAL checkpoint as well as the final one, so
    once every entry is evicted no new pinned RDD remains."""
    base = load_table(spark, SF, "documents").where(F.col("doc_id") < 3)
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", False)
    monkeypatch.setattr(IO, "_MEMO_FRAMES_MAX", 2)
    src = str(tmp_path)
    base.coalesce(1).write.parquet(f"{src}/documents.parquet")
    before = IO._persistent_rdd_ids(spark)

    def build():
        inner = base.select("doc_id").localCheckpoint()  # builder-internal pin
        return inner.where(F.col("doc_id") >= 0)

    first = IO.memo_checkpoint(spark, src, "documents", "t0", build)
    assert first.count() == 3
    first_ids = next(iter(IO._MEMO_FRAMES.values()))[1]
    assert len(first_ids) >= 2, "internal and final checkpoint both owned"
    assert first_ids <= IO._persistent_rdd_ids(spark)
    IO.memo_checkpoint(spark, src, "documents", "t1", build)
    IO.memo_checkpoint(spark, src, "documents", "t2", build)
    # t0 evicted: every checkpoint its build made is gone from the registry
    assert not (first_ids & IO._persistent_rdd_ids(spark))
    # evict t1 and t2 behind two entries that pin nothing
    for i in range(2):
        IO.session_memo(spark, src, "documents", "filler", (i,), lambda: None)
    assert IO._persistent_rdd_ids(spark) - before == frozenset()


def _family_key(family):
    return next(k for k in IO._MEMO_FRAMES if k[3] == family)


def _evict_oldest(spark, monkeypatch, n):
    """Insert one entry that pins nothing with the cap one below the new
    size, so FIFO eviction drops exactly the oldest entry."""
    monkeypatch.setattr(IO, "_MEMO_FRAMES_MAX", len(IO._MEMO_FRAMES))
    IO.session_memo(spark, SF, "embeddings", "filler", (n,), lambda: None)


def test_nested_entry_pins_survive_either_eviction(spark, fresh_memo, monkeypatch):
    """Store off: the residual index build nests the _ivf_cents memo
    miss, and idx["cents"] IS that entry's checkpoint. Both entries own
    it, so evicting either one first leaves the other collectable — a
    localCheckpoint cannot recompute — and frees only what no live entry
    still reads."""
    from etl_financial_report_spark.operators import similarity as S

    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", False)

    # the nested centroid entry goes first (plain FIFO order)
    idx = S._residual_index(spark, SF)
    want = {n: _rows(df) for n, df in idx.items()}
    ivf_ids = IO._MEMO_FRAMES[_family_key("ivf_cents")][1]
    assert ivf_ids and ivf_ids <= IO._MEMO_FRAMES[_family_key("residual")][1]
    _evict_oldest(spark, monkeypatch, 0)
    assert not any(k[3] == "ivf_cents" for k in IO._MEMO_FRAMES)
    assert ivf_ids <= IO._persistent_rdd_ids(spark)
    assert {n: _rows(df) for n, df in idx.items()} == want

    # the residual entry goes first: the centroid entry keeps its blocks
    IO._MEMO_FRAMES.clear()
    idx = S._residual_index(spark, SF)
    res_key = _family_key("residual")
    res_entry = IO._MEMO_FRAMES.pop(res_key)
    rest = dict(IO._MEMO_FRAMES)
    IO._MEMO_FRAMES.clear()
    IO._MEMO_FRAMES[res_key] = res_entry
    IO._MEMO_FRAMES.update(rest)
    ivf_ids = IO._MEMO_FRAMES[_family_key("ivf_cents")][1]
    _evict_oldest(spark, monkeypatch, 1)
    assert res_key not in IO._MEMO_FRAMES
    live = IO._persistent_rdd_ids(spark)
    assert ivf_ids <= live
    assert not ((res_entry[1] - ivf_ids) & live), "residual-only pins freed"
    cents = S._ivf_cents(spark, SF)
    assert cents is idx["cents"]
    assert _rows(cents) == want["cents"]


def test_index_store_keeps_more_versions_than_the_memo_holds():
    """A frame the session memo still references must never have its
    store files vacuumed by later publishes of the same family."""
    assert IO._INDEX_KEEP_VERSIONS > IO._MEMO_FRAMES_MAX
