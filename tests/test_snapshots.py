"""Snapshot-table contract (sources/snapshots.py): versioned reads, time
travel, optimistic concurrency, copy-on-write MERGE, vacuum. This is the
S14 semantics upgrade — the guarantees Delta/Iceberg give, proven on the
manifest protocol directly (mainTesting.py:130-143 is the reference's
row-wise UPDATE these semantics replace)."""

import pytest
from pyspark.sql import functions as F

from etl_financial_report_spark.sources.snapshots import (
    ConcurrentCommitError,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_versions_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    v0 = t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    v1 = t.commit_append(_df(spark, [(3, "c")]))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 3
    # time travel: v0 still reads exactly its snapshot
    assert sorted(r.k for r in t.read(spark, v0).collect()) == [1, 2]
    # a reader that resolved v0 is unaffected by later commits
    pinned = t.read(spark, v0)
    t.commit_append(_df(spark, [(4, "d")]))
    assert pinned.count() == 2
    assert t.read(spark).count() == 4


def test_replace_starts_a_fresh_file_set(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    v = t.commit_replace(_df(spark, [(9, "z")]))
    assert sorted(r.k for r in t.read(spark).collect()) == [9]
    assert sorted(r.k for r in t.read(spark, v - 1).collect()) == [1, 2]


def test_merge_is_upsert_and_copy_on_write(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    base = t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.commit_merge(_df(spark, [(2, "B"), (4, "d")]), key_cols=["k"])
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # copy-on-write: the pre-merge snapshot is untouched
    old = {(r.k, r.v) for r in t.read(spark, base).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    # a racing writer publishes version 1 first
    racer = SnapshotTable(str(tmp_path / "t"))
    racer.commit_append(_df(spark, [(2, "b")]))
    # the loser (which based off version 0) must fail loudly, not clobber
    files_v1 = racer._read_manifest(1)["files"]
    with pytest.raises(ConcurrentCommitError):
        t._publish(1, ["data/bogus.parquet"], "append")
    assert racer._read_manifest(1)["files"] == files_v1  # winner intact
    # and the loser retries cleanly on the new base
    t.commit_append(_df(spark, [(3, "c")]))
    assert t.read(spark).count() == 3


def test_abandoned_write_publishes_nothing(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    before = t.read(spark).count()
    # files landed but the manifest was never published (crashed commit)
    t._write_files(_df(spark, [(99, "x")]), version=1)
    assert t.current_version() == 0
    assert t.read(spark).count() == before  # orphans are invisible


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_replace(_df(spark, [(2, "b")]))
    t.commit_merge(_df(spark, [(2, "B")]), key_cols=["k"])
    stats = t.vacuum(keep_versions=1)
    assert stats["removed_manifests"] == 2
    assert stats["removed_files"] >= 1
    assert t.versions() == [2]
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(2, "B")}
    with pytest.raises(FileNotFoundError):
        t.read(spark, 0)


def test_tagged_append_is_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.commit_append(_df(spark, [(1, "a")]), tag="b0") == 0
    assert t.commit_append(_df(spark, [(1, "a")]), tag="b0") is None  # replay
    assert t.commit_append(_df(spark, [(2, "b")]), tag="b1") == 1
    assert t.read(spark).count() == 2
    assert t.committed_tags() == {"b0", "b1"}


@pytest.mark.slow  # opt-in (driver test budget, optimization r15)
def test_manifest_stats_prune_opens_fewer_files(spark, tmp_path):
    """Per-file min/max stats recorded at commit let a point/range read
    open strictly fewer files — and the pruned read is EXACTLY the
    unpruned read filtered (skipping is an optimization, never a
    semantics change)."""
    t = SnapshotTable(str(tmp_path / "t"))
    # three commits with disjoint key ranges -> three disjoint file spans
    t.commit_append(_df(spark, [(i, f"a{i}") for i in range(0, 10)]).coalesce(1))
    t.commit_append(_df(spark, [(i, f"b{i}") for i in range(10, 20)]).coalesce(1))
    t.commit_append(_df(spark, [(i, f"c{i}") for i in range(20, 30)]).coalesce(1))
    all_files = t.files()
    assert len(all_files) == 3
    pruned = t.files(prune={"k": (12, 17)})
    assert len(pruned) == 1  # only the middle commit's file qualifies
    got = sorted(r.k for r in t.read(spark, prune={"k": (12, 17)}).collect())
    assert got == list(range(12, 18))
    # open bounds work, and a no-match range prunes everything but still
    # returns a well-formed empty frame with the table schema
    assert len(t.files(prune={"k": (None, 5)})) == 1
    empty = t.read(spark, prune={"k": (1000, 2000)})
    assert empty.count() == 0
    assert empty.columns == ["k", "v"]
    # files without stats for the prune column are conservatively kept
    m = t._read_manifest(t.current_version())
    assert all(
        "k" in m["file_meta"][f]["stats"] and m["file_meta"][f]["rows"] == 10
        for f in all_files
    )


def test_prune_survives_merge_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    v0 = t.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.commit_merge(_df(spark, [(2, "B"), (40, "d")]).coalesce(1), key_cols=["k"])
    # merge rewrote the snapshot; stats were re-harvested for the new files
    got = {(r.k, r.v) for r in t.read(spark, prune={"k": (2, 2)}).collect()}
    assert got == {(2, "B")}
    # the pre-merge version still prunes on ITS manifest
    assert {r.k for r in t.read(spark, v0, prune={"k": (2, None)}).collect()} == {2}


def test_tagged_append_rebases_and_dedupes_after_lost_race(spark, tmp_path):
    """The tag TOCTOU from ADVICE r4: a writer that loses the version race
    re-checks the tag on rebase — same tag -> no-op, different tag ->
    clean retry at the next version. Simulated by pre-claiming the version
    the writer will try."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    # a racer steals version 1 carrying tag "T"
    racer = SnapshotTable(str(tmp_path / "t"))
    racer.commit_append(_df(spark, [(2, "b")]), tag="T")
    # our instance never saw the racer's manifest; same-tag append no-ops
    assert t.commit_append(_df(spark, [(2, "b")]), tag="T") is None
    # and a DIFFERENT tag rebases onto the racer's version cleanly
    assert t.commit_append(_df(spark, [(3, "c")]), tag="U") == 2
    assert t.read(spark).count() == 3
    assert t.committed_tags() == {"T", "U"}


def test_snapshot_ingest_stream_is_exactly_once(spark, tmp_path):
    """Streaming ingest through the snapshot table: every micro-batch is
    one tagged version; a full replay with a FRESH checkpoint (the
    lost-checkpoint disaster case) must add zero rows and zero versions."""
    from etl_financial_report_spark.io import SMOKE_SF_DIR, load_table
    from etl_financial_report_spark.streaming import runtime

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id").between(100, 199)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    table = runtime.run_snapshot_ingest_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    n = table.read(spark).count()
    assert n == docs.where(F.col("doc_id") < 200).count()
    versions_before = table.versions()
    assert len(versions_before) == 2  # one per micro-batch

    # replay everything with a lost (fresh) checkpoint
    table2 = runtime.run_snapshot_ingest_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt2")
    )
    assert table2.read(spark).count() == n
    assert table2.versions() == versions_before

    # every intermediate ingest state stays time-travelable
    assert table2.read(spark, versions_before[0]).count() == 100

    # the ADVICE-r4 disaster case: NEW data arrives, THEN the checkpoint
    # is lost. Batch renumbering must not let a replayed batch id mask a
    # new batch's content — tags are content fingerprints, so the replay
    # no-ops the two old files and commits exactly the new one.
    docs.where(F.col("doc_id").between(200, 249)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    table3 = runtime.run_snapshot_ingest_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt3")
    )
    assert table3.read(spark).count() == docs.where(F.col("doc_id") < 250).count()
    assert len(table3.versions()) == 3  # exactly one new version


@pytest.mark.slow  # opt-in (driver test budget, optimization r15)
def test_bloom_prune_beats_minmax_on_point_lookups(spark, tmp_path):
    """VERDICT r7 item 4: footer min/max cannot prune point lookups on
    uniformly-distributed keys (every file's [min,max] spans the probe);
    the per-file key blooms harvested at commit time can. The bloom-pruned
    read must open strictly fewer files than the min/max-pruned read and
    return exactly the unpruned read's matching rows."""
    from etl_financial_report_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), bloom_cols=("k",))
    # four commits of INTERLEAVED keys: file i holds k % 4 == i, so every
    # file's span covers ~[i, 196+i] and min/max pruning is useless
    for i in range(4):
        t.commit_append(
            _df(spark, [(k, f"v{k}") for k in range(i, 200, 4)]).coalesce(1)
        )
    all_files = t.files()
    assert len(all_files) == 4
    m = t._read_manifest(t.current_version())
    assert all("k" in m["file_meta"][f].get("blooms", {}) for f in all_files)

    probe = 42  # lives in file 2 only
    by_span = t.files(prune={"k": (probe, probe)})
    assert len(by_span) == 4  # min/max proves nothing: every span covers 42
    by_bloom = t.files(prune_keys={"k": probe})
    assert len(by_bloom) < len(by_span)  # the item 4 'done' criterion
    assert any(f in by_bloom for f in all_files)  # never prunes the true file
    got = t.read(spark, prune_keys={"k": probe}).collect()
    assert [(r.k, r.v) for r in got] == [(42, "v42")]

    # absent key: bloom may prune everything; the read is a well-formed
    # empty frame (a false positive would open a file whose rows the
    # equality filter then rejects — never a wrong answer)
    missing = t.read(spark, prune_keys={"k": 987654})
    assert missing.count() == 0 and missing.columns == ["k", "v"]

    # guaranteed-no-false-negative contract on EVERY committed key
    for k in range(0, 200, 17):
        files_k = t.files(prune_keys={"k": k})
        assert all_files[k % 4] in files_k, k

    # bloom columns survive merge (meta is re-harvested for the new files)
    t.commit_merge(_df(spark, [(42, "VV")]), key_cols=["k"])
    assert [(r.k, r.v) for r in t.read(spark, prune_keys={"k": 42}).collect()] == [
        (42, "VV")
    ]

    # a table opened WITHOUT bloom_cols still reads bloom'd manifests
    # (pruning uses whatever the manifest carries)
    t2 = SnapshotTable(str(tmp_path / "t"))
    assert len(t2.files(prune_keys={"k": probe})) <= len(all_files)


def test_compact_bin_packs_small_files_copy_on_write(spark, tmp_path):
    """r12 OPTIMIZE semantics: five tiny per-trigger appends compact into
    one version whose small files are rewritten (~1 packed file) while
    the big file is carried over BY REFERENCE (same relpath, no byte
    rewrite); content is identical before/after; the pre-compact version
    still time-travels; a table with <2 small files no-ops."""
    import os

    from etl_financial_report_spark.sources.snapshots import SnapshotTable

    st = SnapshotTable(str(tmp_path / "t"))
    big = spark.range(0, 50_000).selectExpr("id", "id * 2 AS v")
    st.commit_append(big.coalesce(1))
    for k in range(5):
        st.commit_append(
            spark.range(100_000 + k * 10, 100_000 + k * 10 + 10).selectExpr(
                "id", "id * 2 AS v"
            ).coalesce(1)
        )
    base = st.current_version()
    base_files = st.files(base)
    before = sorted(tuple(r) for r in st.read(spark, base).collect())

    out = st.compact(spark, target_bytes=64 * 1024)
    assert out["compacted"] == 5 and out["carried"] == 1
    v = out["version"]
    new_files = st.files(v)
    # the big file is carried by the SAME relpath; small ones are gone
    big_rel = [f for f in base_files if f in new_files]
    assert len(big_rel) == 1
    assert len(new_files) < len(base_files)
    after = sorted(tuple(r) for r in st.read(spark, v).collect())
    assert after == before
    # time travel to the pre-compact version still works
    assert sorted(tuple(r) for r in st.read(spark, base).collect()) == before
    # carried file's bytes were not rewritten (mtime check via stat size
    # identity is enough here: path unchanged and still readable)
    assert os.path.getsize(str(tmp_path / "t" / big_rel[0])) > 64 * 1024 // 2

    # idempotent no-op when nothing worth packing remains
    again = st.compact(spark, target_bytes=64 * 1024)
    assert again["compacted"] in (0, 2)  # the packed file may itself be small


def _jobs_run_by(spark, fn):
    """(fn's result, ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"snapshots-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store fills async
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_takes_the_manifest_schema_and_runs_no_job(spark, tmp_path):
    """The manifest records the committed schema, so a read (latest,
    time-travelled or fully pruned) submits no footer-inference job, and
    its schema is the one inference over the same files gives (the file
    source reads every column nullable either way)."""
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(6).selectExpr(  # id and the literals are non-nullable
        "id", "CAST(id AS INT) AS i", "array(id, 1) AS a", "'x' AS s", "id / 2 AS d"
    )
    v = t.commit_replace(df.coalesce(2))
    assert t._read_manifest(v)["schema"] == df.schema.jsonValue()
    inferred = spark.read.parquet(*[os.path.join(t.path, f) for f in t.files(v)])
    for read in (
        lambda: t.read(spark),
        lambda: t.read(spark, v),
        lambda: t.read(spark, prune={"id": (100, None)}),  # every file pruned
    ):
        got, jobs = _jobs_run_by(spark, read)
        assert jobs == []
        assert got.schema == inferred.schema
    assert sorted(tuple(r) for r in t.read(spark).collect()) == sorted(
        tuple(r) for r in inferred.collect()
    )


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """A manifest written before schemas were recorded reads by
    inference."""
    import json

    t = SnapshotTable(str(tmp_path / "t"))
    v = t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    path = t._manifest_path(v)
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    old = SnapshotTable(t.path)
    assert sorted(tuple(r) for r in old.read(spark).collect()) == [(1, "a"), (2, "b")]
    # an append on top of it cannot know the old columns: it keeps inferring
    v2 = old.commit_append(_df(spark, [(3, "c")]))
    assert old._read_manifest(v2)["schema"] is None
    assert old.read(spark).count() == 3


def test_append_adding_a_column_reads_nulls_for_older_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_append(spark.createDataFrame([(2, "b", 0.5)], "k int, v string, w double"))
    got = t.read(spark)
    assert got.columns == ["k", "v", "w"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a", None), (2, "b", 0.5)]
