"""Incremental index-store maintenance (VERDICT r13 item 2): when a
corpus GROWS by a batch of new files, the row-incremental signature
families (minhash, simhash64) must not rebuild from scratch — the new
files are read and signed alone, and the batch rows chain onto the
parent snapshot via commit_append(base_version=...), carrying the
parent's data files BY REFERENCE. Pins:

  * corpus+batch store state equals the from-scratch rebuild
    frame-for-frame (both families);
  * cost scales with |batch|, not |corpus|: the batch builder reads
    exactly the new files' rows, the child manifest lists the parent's
    data files verbatim (zero corpus bytes rewritten), and the newly
    written files hold exactly |batch| rows;
  * the fingerprint chain is recorded in each version's manifest
    (child -> parent key), and a THIRD ingest chains onto the second,
    not the first;
  * a MODIFIED parent file breaks the subset relation -> honest full
    rebuild (lineage parent None);
  * a policy change (different extra_key -> different policy
    fingerprint) never chains across policies;
  * a vacuumed parent: growth chains onto the largest retained subset
    version, or rebuilds from scratch when none is left.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

import etl_financial_report_spark.io as IO
from etl_financial_report_spark.operators import dedup as D


def _docs_rows(lo, hi):
    return [
        (i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta iota "
            f"w{i % 7} w{i % 11} kappa lam mu nu xi omicron pi rho sigma",
         "en", f"src{i % 3}", 100 + i)
        for i in range(lo, hi)
    ]


def _write_batch(spark, corpus_dir, name, rows):
    """Land one named parquet data file inside <corpus_dir>/documents.parquet
    (Spark writes a part file into a temp dir; we move+rename it so each
    ingest batch is exactly one stable, distinguishable file)."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = os.path.join(corpus_dir, f"_stage_{name}")
    df.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dest_dir = os.path.join(corpus_dir, "documents.parquet")
    os.makedirs(dest_dir, exist_ok=True)
    shutil.move(os.path.join(tmp, part), os.path.join(dest_dir, f"{name}.parquet"))
    shutil.rmtree(tmp)


def _lineage():
    """Manifest key -> lineage record over the minhash family's retained
    versions: each version's manifest is the one record of what it covers."""
    st = IO._index_table("minhash_signature")
    return {
        m["tag"]: m["lineage"] for m in map(st._read_manifest, st.versions())
    }


@pytest.fixture()
def store(monkeypatch, tmp_path, fresh_memo):
    monkeypatch.setattr(IO, "INDEX_STORE_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", True)
    return str(tmp_path / "store")


def _sig_set(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_append_equals_rebuild_and_scales_with_batch(
    spark, tmp_path, store, monkeypatch
):
    corpus = str(tmp_path / "corpus")
    _write_batch(spark, corpus, "base1", _docs_rows(0, 60))
    _write_batch(spark, corpus, "base2", _docs_rows(60, 100))

    # warm the store on the 100-doc parent corpus
    parent = D._minhash_signature(spark, corpus)
    assert parent.count() == 100
    recs = _lineage()
    assert len(recs) == 1 and next(iter(recs.values()))["parent"] is None

    # a 10-doc ingest lands as one new file
    _write_batch(spark, corpus, "ingest1", _docs_rows(100, 110))
    IO._MEMO_FRAMES.clear()  # fresh-session discipline

    seen = []
    real = D._minhash_signature_of

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    monkeypatch.setattr(D, "_minhash_signature_of", spy)
    got = D._minhash_signature(spark, corpus)
    monkeypatch.setattr(D, "_minhash_signature_of", real)

    # the batch builder saw ONLY the 10 new docs — |batch|, not |corpus|
    assert seen == [10]

    # frame-for-frame equality with a from-scratch rebuild
    want = real(IO.load_table(spark, corpus, "documents"))
    assert _sig_set(got) == _sig_set(want)
    assert got.count() == 110

    # the child manifest carries the parent's data files by reference
    st = IO._index_table("minhash_signature")
    vs = st.versions()
    assert len(vs) == 2
    parent_files = set(st._read_manifest(vs[0])["files"])
    child_m = st._read_manifest(vs[1])
    child_files = set(child_m["files"])
    assert parent_files < child_files
    assert child_m["op"] == "append"
    # the newly written files hold exactly the 10 batch rows
    new_meta = {
        f: child_m["file_meta"][f] for f in child_files - parent_files
    }
    assert sum(m["rows"] for m in new_meta.values()) == 10

    # the fingerprint chain is recorded
    recs = _lineage()
    assert len(recs) == 2
    child_rec = next(r for r in recs.values() if r["parent"] is not None)
    assert child_rec["parent"] in recs
    parent_rec = recs[child_rec["parent"]]
    assert len(child_rec["file_stats"]) - len(parent_rec["file_stats"]) == 1


def test_third_ingest_chains_onto_second(spark, tmp_path, store, monkeypatch):
    corpus = str(tmp_path / "corpus")
    _write_batch(spark, corpus, "base", _docs_rows(0, 50))
    D._minhash_signature(spark, corpus)

    _write_batch(spark, corpus, "ingest1", _docs_rows(50, 60))
    IO._MEMO_FRAMES.clear()
    D._minhash_signature(spark, corpus)

    _write_batch(spark, corpus, "ingest2", _docs_rows(60, 65))
    IO._MEMO_FRAMES.clear()

    seen = []
    real = D._minhash_signature_of

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    monkeypatch.setattr(D, "_minhash_signature_of", spy)
    got = D._minhash_signature(spark, corpus)
    monkeypatch.setattr(D, "_minhash_signature_of", real)

    assert seen == [5], "third ingest signs only ITS batch"
    assert got.count() == 65
    # chain: gen3 -> gen2 -> gen1 -> None
    recs = _lineage()
    assert len(recs) == 3
    chain = 0
    k = next(key for key, r in recs.items() if len(r["file_stats"]) == 3)
    while recs[k]["parent"] is not None:
        k = recs[k]["parent"]
        chain += 1
    assert chain == 2

    want = real(IO.load_table(spark, corpus, "documents"))
    assert _sig_set(got) == _sig_set(want)


def test_simhash64_family_incremental_equals_rebuild(
    spark, tmp_path, store, monkeypatch
):
    corpus = str(tmp_path / "corpus")
    _write_batch(spark, corpus, "base", _docs_rows(0, 40))
    D._simhash64_signature(spark, corpus)

    _write_batch(spark, corpus, "ingest", _docs_rows(40, 48))
    IO._MEMO_FRAMES.clear()

    seen = []
    real = D._simhash64_signature_of

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    monkeypatch.setattr(D, "_simhash64_signature_of", spy)
    got = D._simhash64_signature(spark, corpus)
    monkeypatch.setattr(D, "_simhash64_signature_of", real)

    assert seen == [8]
    want = real(IO.load_table(spark, corpus, "documents"))
    assert _sig_set(got) == _sig_set(want)


def test_modified_parent_file_forces_full_rebuild(
    spark, tmp_path, store, monkeypatch
):
    corpus = str(tmp_path / "corpus")
    _write_batch(spark, corpus, "base", _docs_rows(0, 30))
    D._minhash_signature(spark, corpus)

    # REWRITE the base file (different rows -> different size/rowcount)
    os.unlink(os.path.join(corpus, "documents.parquet", "base.parquet"))
    _write_batch(spark, corpus, "base", _docs_rows(0, 25))
    _write_batch(spark, corpus, "ingest", _docs_rows(30, 35))
    IO._MEMO_FRAMES.clear()

    seen = []
    real = D._minhash_signature_of

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    monkeypatch.setattr(D, "_minhash_signature_of", spy)
    got = D._minhash_signature(spark, corpus)
    monkeypatch.setattr(D, "_minhash_signature_of", real)

    # the subset relation is broken -> the full 30-doc corpus was signed
    # in one from-scratch build (the batch spy sees the FULL build only
    # if build_full routes through it; build_full uses load_table, so the
    # spy count equals the whole current corpus)
    assert seen == [30]
    assert got.count() == 30
    new_rec = [r for r in _lineage().values() if len(r["file_stats"]) == 2]
    assert len(new_rec) == 1 and new_rec[0]["parent"] is None


def test_policy_change_never_chains(spark, tmp_path, store, monkeypatch):
    corpus = str(tmp_path / "corpus")
    _write_batch(spark, corpus, "base", _docs_rows(0, 30))
    D._minhash_signature(spark, corpus)

    _write_batch(spark, corpus, "ingest", _docs_rows(30, 36))
    IO._MEMO_FRAMES.clear()
    # a different banding policy must not inherit the old policy's rows
    monkeypatch.setattr(D, "N_HASHES", 4)
    seen = []
    real = D._minhash_signature_of

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    monkeypatch.setattr(D, "_minhash_signature_of", spy)
    got = D._minhash_signature(spark, corpus)
    monkeypatch.setattr(D, "_minhash_signature_of", real)

    assert seen == [36], "policy change -> full rebuild, no chaining"
    assert got.count() == 36
    assert len(got.columns) == 1 + 4


def test_vacuumed_chain_parent_chains_onto_a_retained_version_or_rebuilds(
    spark, tmp_path, store, monkeypatch
):
    """Retention vacuums chain parents like any other version. Growth
    chains onto the largest RETAINED subset version; with none left it
    rebuilds from scratch. Both equal the pure build, and vacuum leaves
    nothing in the family but the manifests and the data files."""
    monkeypatch.setattr(IO, "_INDEX_KEEP_VERSIONS", 2)
    corpus = str(tmp_path / "corpus")
    real = D._minhash_signature_of
    seen = []

    def spy(docs):
        seen.append(docs.count())
        return real(docs)

    def other_corpus(k):
        # an unrelated corpus publishing into the same family pushes the
        # chain's versions past the retention edge
        other = str(tmp_path / f"other{k}")
        _write_batch(spark, other, f"x{k}", _docs_rows(1000 + 10 * k, 1007 + 10 * k))
        IO._MEMO_FRAMES.clear()
        D._minhash_signature(spark, other)

    def grow(name, lo, hi):
        _write_batch(spark, corpus, name, _docs_rows(lo, hi))
        IO._MEMO_FRAMES.clear()
        seen.clear()
        monkeypatch.setattr(D, "_minhash_signature_of", spy)
        got = D._minhash_signature(spark, corpus)
        monkeypatch.setattr(D, "_minhash_signature_of", real)
        assert _sig_set(got) == _sig_set(real(IO.load_table(spark, corpus, "documents")))
        return got

    grow("base", 0, 40)  # v0
    grow("ingest1", 40, 50)  # v1, chained onto v0
    assert seen == [10]
    other_corpus(0)  # v2: v0, the root of the chain, is vacuumed
    st = IO._index_table("minhash_signature")
    assert st.versions() == [1, 2]

    # v1 is retained: the next ingest still signs only its own batch
    parent_key = st._read_manifest(1)["tag"]
    got = grow("ingest2", 50, 55)  # v3
    assert seen == [5] and got.count() == 55
    assert _lineage()[st._read_manifest(3)["tag"]]["parent"] == parent_key

    other_corpus(1)  # v4
    other_corpus(2)  # v5: v3, the only subset version, is vacuumed
    assert IO._index_table("minhash_signature").versions() == [4, 5]
    got = grow("ingest3", 55, 58)
    assert seen == [58] and got.count() == 58  # an honest full rebuild
    assert [r["parent"] for r in _lineage().values()] == [None, None]
    assert sorted(os.listdir(os.path.join(store, "minhash_signature"))) == [
        "_manifests",
        "data",
    ]
