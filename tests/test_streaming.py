"""Structured Streaming runtime tests (SURVEY.md §2.8): each pipeline runs
a REAL readStream -> writeStream query (file source, availableNow trigger)
and must agree with its batch twin on the same events data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_financial_report_spark.io import SMOKE_SF_DIR, load_table
from etl_financial_report_spark.streaming import runtime
from etl_financial_report_spark.streaming.events import tumbling_counts


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The driver's events table rewritten as micros-ts parquet (streaming
    file sources read the declared schema directly; the NANOS original
    needs io.load_table's rebuild)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, SMOKE_SF_DIR, "events").repartition(2).write.parquet(path)
    return path


def test_tumbling_stream_matches_batch(spark, events_dir):
    got = runtime.run_tumbling_stream(spark, events_dir)
    want = tumbling_counts(spark.read.parquet(events_dir))
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_session_window_stream(spark, events_dir):
    got = runtime.run_session_window_stream(spark, events_dir)
    ev = spark.read.parquet(events_dir)
    # session count per user is bounded by event count, and every user appears
    assert got.count() > 0
    assert got.select("user_id").distinct().count() == ev.select("user_id").distinct().count()
    # no session exceeds its user's event total
    per_user = got.groupBy("user_id").agg(F.sum("n_events").alias("n"))
    batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert per_user.exceptAll(batch).count() == 0


def test_dedupe_stream(spark, events_dir):
    got = runtime.run_dedupe_stream(spark, events_dir)
    ev = spark.read.parquet(events_dir)
    assert got.count() == ev.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()


def test_user_totals_stateful_stream(spark, events_dir):
    got = runtime.run_user_totals_stream(spark, events_dir)
    # update mode: keep the last emitted row per user (monotone n_events)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = got.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")
    want = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert (
        final.select("user_id", "n_events").exceptAll(want).count() == 0
        and want.exceptAll(final.select("user_id", "n_events")).count() == 0
    )


def test_user_totals_state_carries_across_batches(spark, events_dir):
    """maxFilesPerTrigger=1 forces one microbatch per file (the fixture
    writes 2): per-user counters must accumulate across batches, proving
    the operator state survives batch boundaries."""
    got = runtime.run_user_totals_stream(spark, events_dir, max_files_per_trigger=1)
    # update mode over >1 batch: users touched in both batches emit twice
    assert got.count() > got.select("user_id").distinct().count()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = got.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    want = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert final.select("user_id", "n_events").exceptAll(want).count() == 0
    assert want.exceptAll(final.select("user_id", "n_events")).count() == 0


def test_stream_stream_join_matches_batch(spark, events_dir):
    got = runtime.run_stream_stream_join(spark, events_dir)
    ev = spark.read.parquet(events_dir)
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    want = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 300 SECONDS")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_dedupe_parquet_sink_exactly_once(spark, events_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    runtime.run_dedupe_to_parquet(spark, events_dir, out, ckpt)
    n_events = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert spark.read.parquet(out).count() == n_events
    # same checkpoint, no new input -> nothing reprocessed or re-written
    runtime.run_dedupe_to_parquet(spark, events_dir, out, ckpt)
    assert spark.read.parquet(out).count() == n_events


def test_sliding_stream_matches_batch(spark, events_dir):
    from etl_financial_report_spark.streaming.events import sliding_counts

    got = runtime.run_sliding_stream(spark, events_dir)
    want = sliding_counts(spark.read.parquet(events_dir))
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_static_enrichment(spark, events_dir):
    from etl_financial_report_spark.io import SMOKE_SF_DIR, load_table

    got = runtime.run_stream_static_enrichment(spark, events_dir, SMOKE_SF_DIR)
    ev = spark.read.parquet(events_dir)
    customers = load_table(spark, SMOKE_SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = (
        ev.join(customers, "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_foreach_batch_upsert_is_idempotent(spark, events_dir, tmp_path):
    out = str(tmp_path / "up_out")
    runtime.run_foreach_batch_upsert(spark, events_dir, out, str(tmp_path / "up_ckpt1"))
    n = spark.read.parquet(out).count()
    assert n == spark.read.parquet(events_dir).count()
    # replay from a FRESH checkpoint (simulates reprocessing the same data):
    # the sink-side anti-join guard must prevent any double-insert
    runtime.run_foreach_batch_upsert(spark, events_dir, out, str(tmp_path / "up_ckpt2"))
    assert spark.read.parquet(out).count() == n


def test_user_totals_transform_with_state(spark, events_dir):
    """transformWithStateInPandas (Spark 4 arbitrary-state API) computes
    the same per-user lifetime totals as the applyInPandasWithState path
    and the batch group-by. Skipped where protobuf (the TWS state-server
    wire protocol) is absent — the applyInPandasWithState twin above
    covers the semantics there."""
    import pytest

    if not runtime.tws_available():
        pytest.skip("protobuf not installed: transformWithState cannot run")
    got = runtime.run_user_totals_tws(spark, events_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = got.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")
    want = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert (
        final.select("user_id", "n_events").exceptAll(want).count() == 0
        and want.exceptAll(final.select("user_id", "n_events")).count() == 0
    )


def test_user_totals_processor_folds_like_apply_in_pandas_with_state():
    """The transformWithState processor and the applyInPandasWithState
    function fold chunks through the same code: same rows, same state,
    carried across calls (runs without the TWS runtime's protobuf)."""
    import pandas as pd

    class Value:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class Handle:
        def getValueState(self, name, schema):
            return Value()

    class State:
        exists, get = False, None

        def update(self, v):
            self.exists, self.get = True, v

    proc, state = runtime._UserTotalsProcessor(), State()
    proc.init(Handle())
    for chunks in ([[1.5, 2.25], [0.125]], [[4.0]]):
        pdfs = [pd.DataFrame({"value": c}) for c in chunks]
        (a,) = proc.handleInputRows((7,), iter(pdfs), None)
        (b,) = runtime._update_user_totals((7,), iter(pdfs), state)
        assert a.to_dict("records") == b.to_dict("records")
    assert a.to_dict("records") == [{"user_id": 7, "n_events": 4, "total_value": 7.875}]
    assert proc._state.get() == state.get == (4, 7.875)


def test_stream_stream_left_outer_matches_batch(spark, events_dir, tmp_path):
    """Matched rows equal the batch inner join; null-click rows appear
    exactly for purchases with no qualifying click. A left-outer stream
    can only certify 'no click' once the watermark passes the interval
    end, and the watermark lags one batch behind the data — so the input
    gets a punctuation event (far-future, joins nothing) that drives the
    watermark past every real purchase before the stream terminates."""
    import datetime

    ev = spark.read.parquet(events_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # one punctuation per join side: the event_type filter is pushed below
    # the watermark node, so each side's watermark only advances on rows of
    # its own type — a click-only sentinel would leave the purchase-side
    # watermark (and the min-policy global watermark) pinned at the newest
    # real purchase, which then never certifies as unmatched
    far = max_ts + datetime.timedelta(days=1)
    sentinels = spark.createDataFrame(
        [(10**12, far, -1, "click", 0.0, "{}"), (10**12 + 1, far, -1, "purchase", 0.0, "{}")],
        ev.schema,
    )
    punct_dir = str(tmp_path / "events_punct")
    ev.unionByName(sentinels).repartition(2).write.parquet(punct_dir)

    got = runtime.run_stream_stream_left_outer(spark, punct_dir)
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 300 SECONDS"))
    )
    want = purchases.join(clicks, cond, "leftOuter").select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )
    got_cmp = got.where(F.col("user_id") >= 0).select("purchase_id", "click_id", "user_id")
    assert got.where(F.col("click_id").isNull()).count() > 0
    assert got_cmp.exceptAll(want).count() == 0
    assert want.exceptAll(got_cmp).count() == 0


def test_corpus_ingest_stream_dedupes_across_batches(spark, tmp_path):
    """Two file chunks stream as separate microbatches; the second chunk is
    pure duplicates (same text, shifted doc_ids) — the canonical-key guard
    must admit exactly one row per distinct text regardless of which batch
    carried it."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    dups = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000)
    )
    dups.coalesce(1).write.mode("append").parquet(src)

    out = runtime.run_corpus_ingest_stream(
        spark, src, str(tmp_path / "clean"), str(tmp_path / "ckpt")
    )
    # one row per canonical text, none lost
    n_texts = docs.select(F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))).distinct().count()
    assert out.count() == n_texts
    assert out.groupBy("ck").count().where(F.col("count") > 1).count() == 0


def test_incremental_dedup_stream_matches_batch_operator(spark, tmp_path):
    """The streaming twin of dedup_incremental: the batch slice
    (doc_id % 10 == 7) streams in two file chunks against the prebuilt
    corpus index; the landed verdicts must EXACTLY match the batch
    operator's output on the same split, and a replayed append must not
    double-report (idempotent sink keyed on doc_id)."""
    from etl_financial_report_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        dedup_incremental,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    new_dir = str(tmp_path / "new_docs")
    # two chunks -> two microbatches under maxFilesPerTrigger=1
    batch = docs.where(in_batch)
    batch.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(new_dir)
    batch.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(new_dir)

    got = runtime.run_incremental_dedup_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )
    want = dedup_incremental(spark, SMOKE_SF_DIR)
    g = {(r.doc_id, r.verdict, r.match_id, r.jaccard) for r in got.collect()}
    w = {(r.doc_id, r.verdict, r.match_id, r.jaccard) for r in want.collect()}
    assert g == w and len(g) == batch.count()

    # replay: landing the same verdicts again must be a no-op
    got2 = runtime.run_incremental_dedup_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt2"),
    )
    assert got2.count() == len(g)


def test_token_drift_stream_matches_batch_operator(spark, tmp_path):
    """The streaming drift monitor must agree token-for-token with the
    batch corpus_token_drift on the same old/new split (the rate logic is
    literally shared — this pins that the accumulation path feeding it is
    too), and a replayed stream must not double-count (idempotent sink
    keyed on (tok, source file))."""
    from etl_financial_report_spark.operators.textops import corpus_token_drift

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    new_half = (F.col("doc_id") % 2) == 1
    new_dir = str(tmp_path / "new_docs")
    # two chunks -> two microbatches under maxFilesPerTrigger=1
    docs.where(new_half & (F.col("doc_id") < 250)).coalesce(1).write.mode(
        "append"
    ).parquet(new_dir)
    docs.where(new_half & (F.col("doc_id") >= 250)).coalesce(1).write.mode(
        "append"
    ).parquet(new_dir)

    got = runtime.run_token_drift_stream(
        spark,
        new_dir,
        docs.where(~new_half),
        str(tmp_path / "counts"),
        str(tmp_path / "ckpt"),
    )
    want = corpus_token_drift(spark, SMOKE_SF_DIR)
    g = [tuple(r) for r in got.collect()]
    w = [tuple(r) for r in want.collect()]
    assert g == w  # ordered: same top-K movers, same rates, same ties

    # replay with a fresh checkpoint: the (tok, source file) key dedupes
    got2 = runtime.run_token_drift_stream(
        spark,
        new_dir,
        docs.where(~new_half),
        str(tmp_path / "counts"),
        str(tmp_path / "ckpt2"),
    )
    assert [tuple(r) for r in got2.collect()] == w


def test_token_drift_stream_survives_a_file_landing_out_of_order(spark, tmp_path):
    """A file that lists AHEAD of an already-landed one (the file source
    orders by mtime) is batch 0 again under a fresh checkpoint. Per-file
    partial keys land it once and skip the landed file, so the report
    still equals the batch corpus_token_drift; batch-id keys would drop
    its overlap with the landed file and count the landed file twice."""
    import os

    from etl_financial_report_spark.operators.textops import corpus_token_drift

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    new_half = (F.col("doc_id") % 2) == 1
    new_dir = str(tmp_path / "new_docs")
    baseline, out = docs.where(~new_half), str(tmp_path / "counts")

    def data_files():
        return {os.path.join(new_dir, f) for f in os.listdir(new_dir) if f.endswith(".parquet")}

    docs.where(new_half & (F.col("doc_id") < 250)).coalesce(1).write.parquet(new_dir)
    runtime.run_token_drift_stream(spark, new_dir, baseline, out, str(tmp_path / "ckpt"))
    landed = data_files()
    docs.where(new_half & (F.col("doc_id") >= 250)).coalesce(1).write.mode(
        "append"
    ).parquet(new_dir)
    older = min(os.stat(f).st_mtime for f in landed) - 3600
    for f in data_files() - landed:
        os.utime(f, (older, older))

    got = runtime.run_token_drift_stream(spark, new_dir, baseline, out, str(tmp_path / "ckpt2"))
    want = corpus_token_drift(spark, SMOKE_SF_DIR)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_failing_micro_batch_surfaces_and_stops_the_query(spark, tmp_path, monkeypatch):
    """A micro-batch that raises fails its runner with a
    StreamingQueryException carrying the cause, and leaves no active
    query behind."""
    from pyspark.errors import StreamingQueryException

    from etl_financial_report_spark.sources.sinks import ParquetSink

    src = str(tmp_path / "src")
    load_table(spark, SMOKE_SF_DIR, "documents").coalesce(1).write.parquet(src)

    def sink_down(self, df, key_cols=None):
        raise RuntimeError("sink down")

    monkeypatch.setattr(ParquetSink, "append_idempotent", sink_down)
    with pytest.raises(StreamingQueryException, match="sink down"):
        runtime.run_manifest_stream(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert spark.streams.active == []


def test_bloom_prefilter_stream_matches_batch_operator(spark, tmp_path):
    """The streaming runtime-filter twin of dedup_bloom_prefilter: the
    batch slice streams in two file chunks against the once-built corpus
    bloom; the landed verdicts must EXACTLY match the batch operator's,
    and a replayed run must not double-report."""
    from etl_financial_report_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        dedup_bloom_prefilter,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    new_dir = str(tmp_path / "new_docs")
    batch = docs.where(in_batch)
    batch.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(new_dir)
    batch.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(new_dir)

    got = runtime.run_bloom_prefilter_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )
    want = dedup_bloom_prefilter(spark, SMOKE_SF_DIR)
    g = {(r.doc_id, r.bloom_maybe, r.exact_dup, r.false_positive) for r in got.collect()}
    w = {(r.doc_id, r.bloom_maybe, r.exact_dup, r.false_positive) for r in want.collect()}
    assert g == w and len(g) == batch.count()

    got2 = runtime.run_bloom_prefilter_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt2"),
    )
    assert got2.count() == len(g)


def test_cms_stream_merge_equals_batch_sketch(spark, tmp_path):
    """The CMS merge theorem, executable: summing per-micro-batch partial
    sketches must reproduce the whole-corpus sketch counter-for-counter
    (and therefore every heavy-hitter estimate), and a replay must not
    double-count."""
    from etl_financial_report_spark.functions.hashing import hash32
    from etl_financial_report_spark.operators.textops import CMS_D, CMS_W, _cms_bucket

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    merged = runtime.run_cms_stream(
        spark, src, str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    )
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("base", hash32(F.col("tok")))
    )
    buckets = F.array(
        *[
            F.struct(F.lit(j).alias("j"), _cms_bucket(F.col("base"), j, CMS_W).alias("b"))
            for j in range(CMS_D)
        ]
    )
    whole = (
        toks.select("n", F.explode(buckets).alias("r"))
        .groupBy("r.j", "r.b")
        .agg(F.sum("n").alias("cnt"))
    )
    g = {(r.j, r.b): r.cnt for r in merged.collect()}
    w = {(r.j, r.b): r.cnt for r in whole.collect()}
    assert g == w and len(g) > 0

    # replay with a fresh checkpoint: partials dedupe per source file
    merged2 = runtime.run_cms_stream(
        spark, src, str(tmp_path / "sketch"), str(tmp_path / "ckpt2")
    )
    assert {(r.j, r.b): r.cnt for r in merged2.collect()} == w

    # ADVICE r5: replay under a CHANGED trigger config (both files in one
    # batch instead of one per batch) — re-grouped batches mint the same
    # per-file keys, so nothing double-counts
    merged3 = runtime.run_cms_stream(
        spark,
        src,
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt3"),
        max_files_per_trigger=2,
    )
    assert {(r.j, r.b): r.cnt for r in merged3.collect()} == w


def test_cms_report_stream_matches_batch_report(spark, tmp_path):
    """VERDICT r5 item 6: the streaming heavy-hitter REPORT (merged
    streamed counters + merged streamed sketch through the SHARED probe
    stage) must equal text_cms_heavy_hitters row-for-row over the same
    corpus — and stay equal after a lost-checkpoint replay."""
    from etl_financial_report_spark.operators.textops import text_cms_heavy_hitters

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    def rows(df):
        return {
            (r.tok, r.exact_n, r.est_n, r.never_underestimates, r.err_ppm)
            for r in df.collect()
        }

    got = rows(
        runtime.run_cms_report_stream(
            spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
    )
    # SMOKE_SF_DIR's documents table IS the streamed corpus here, so the
    # batch operator over the same sf dir is the exact expected report
    want = rows(text_cms_heavy_hitters(spark, SMOKE_SF_DIR))
    assert got == want and len(got) > 0

    # lost-checkpoint replay: per-file-keyed partial dedupe keeps both
    # the sketch and the token counters single-counted
    got2 = rows(
        runtime.run_cms_report_stream(
            spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt2")
        )
    )
    assert got2 == want


def test_chunk_dedup_stream_matches_batch_operator(spark, tmp_path):
    """The streaming chunk-staleness verdicts must agree row-for-row with
    the batch dedup_chunk_incremental on the same corpus/batch split, and
    a replayed stream must not double-report (idempotent sink keyed on
    doc_id)."""
    from etl_financial_report_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        dedup_chunk_incremental,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    new_dir = str(tmp_path / "new_docs")
    # two files -> two microbatches under maxFilesPerTrigger=1
    batch = docs.where(in_batch)
    batch.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(new_dir)
    batch.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(new_dir)

    got = runtime.run_chunk_dedup_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )
    want = dedup_chunk_incremental(spark, SMOKE_SF_DIR)
    g = {
        (r.doc_id, r.n_chunks, r.n_kept, r.seen_frac_ppm, r.kept_text)
        for r in got.collect()
    }
    w = {
        (r.doc_id, r.n_chunks, r.n_kept, r.seen_frac_ppm, r.kept_text)
        for r in want.collect()
    }
    assert g == w and len(g) == batch.count()

    # replay with a fresh checkpoint: landing the same verdicts again is
    # a no-op
    got2 = runtime.run_chunk_dedup_stream(
        spark,
        new_dir,
        docs.where(~in_batch),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt2"),
    )
    assert got2.count() == len(g)


def test_manifest_stream_matches_batch_operator(spark, tmp_path):
    """The streaming manifest lands per-(file, shard) partials over two
    file chunks; the merged result must EXACTLY equal the batch
    pipeline_shard_checksums rows (the XOR/sum/min/max merge is the
    whole design), and a lost-checkpoint replay must not double-count."""
    from etl_financial_report_spark.operators.pipelines import (
        pipeline_shard_checksums,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    docs_dir = str(tmp_path / "docs")
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(docs_dir)
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(docs_dir)

    got = runtime.run_manifest_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    want = pipeline_shard_checksums(spark, SMOKE_SF_DIR)
    g = {tuple(r) for r in got.select(*want.columns).collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and g

    # replay with a fresh checkpoint against the already-landed partials:
    # the idempotent (src, shard) key must make it a no-op
    got2 = runtime.run_manifest_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt2")
    )
    assert {tuple(r) for r in got2.select(*want.columns).collect()} == w


def test_corpus_build_stream_matches_batch_operator(spark, tmp_path):
    """The streaming corpus build lands per-doc gate rows + holdout
    shingles over three file chunks — the LAST chunk carries part of the
    holdout benchmark AND cross-file duplicates with SMALLER doc_ids, so
    both arrival-order traps (late-arriving contamination, late-arriving
    canonical winner) are exercised — and the merged shard table,
    committed through the snapshot table, must EXACTLY equal the batch
    pipeline_corpus_build. A replay (fresh checkpoint over the same
    files) must publish no new snapshot version."""
    from etl_financial_report_spark.operators.pipelines import pipeline_corpus_build
    from etl_financial_report_spark.sources.snapshots import SnapshotTable

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    docs_dir = str(tmp_path / "docs")
    # chunk 1: mid ids (dups of the low-id canonicals arrive FIRST);
    # chunk 2: high ids; chunk 3: low ids + the src0 holdout docs
    is_holdout = F.col("source") == "src0"
    docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 300) & ~is_holdout
        ).coalesce(1).write.mode("append").parquet(docs_dir)
    docs.where((F.col("doc_id") >= 300) & ~is_holdout).coalesce(1).write.mode(
        "append").parquet(docs_dir)
    docs.where((F.col("doc_id") < 100) | is_holdout).coalesce(1).write.mode(
        "append").parquet(docs_dir)

    got = runtime.run_corpus_build_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    want = pipeline_corpus_build(spark, SMOKE_SF_DIR)
    g = {tuple(r) for r in got.select(*want.columns).collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and g

    snap = SnapshotTable(str(tmp_path / "out" / "shards_table"))
    v_first = snap.current_version()

    # replay with a fresh checkpoint: gate rows land idempotently, the
    # content tag makes the snapshot commit a no-op — same version, same rows
    got2 = runtime.run_corpus_build_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt2")
    )
    assert snap.current_version() == v_first
    assert {tuple(r) for r in got2.select(*want.columns).collect()} == w


def test_corpus_build_stream_rejects_stale_gate_store(spark, tmp_path):
    """ADVICE r13: a gate store landed by a pre-r13 run (rows without the
    model-gate columns n/sl/ns/qfeats/_gate_schema_v) must fail FAST with
    an explicit 'reland required' error — before any new-schema append
    creates a mixed-schema parquet directory — and a right-columns,
    wrong-version store must fail the same way."""
    import pytest

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    docs_dir = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(docs_dir)

    # (a) pre-r13 landed schema: missing the model-gate columns
    out_a = tmp_path / "out_a"
    spark.createDataFrame(
        [(1, "s", 10, "ck", True, ["a b c"])],
        "doc_id long, source string, n_chars long, ck string, "
        "passes_quality boolean, whs array<string>",
    ).write.parquet(str(out_a / "gate_rows"))
    with pytest.raises(ValueError, match="reland required"):
        runtime.run_corpus_build_stream(
            spark, docs_dir, str(out_a), str(tmp_path / "ckpt_a")
        )
    # nothing was appended next to the stale rows
    assert spark.read.parquet(str(out_a / "gate_rows")).count() == 1

    # (b) right columns, wrong stamped version
    out_b = tmp_path / "out_b"
    spark.createDataFrame(
        [(1, "s", 10, "ck", True, ["a b c"], 5, 1, 0, [(7, 2)],
          runtime.GATE_SINK_SCHEMA_VERSION + 1)],
        "doc_id long, source string, n_chars long, ck string, "
        "passes_quality boolean, whs array<string>, n long, sl long, "
        "ns long, qfeats array<struct<f:long,c:long>>, _gate_schema_v int",
    ).write.parquet(str(out_b / "gate_rows"))
    with pytest.raises(ValueError, match="reland required"):
        runtime.run_corpus_build_stream(
            spark, docs_dir, str(out_b), str(tmp_path / "ckpt_b")
        )


def test_unigram_train_stream_matches_batch_operator(spark, tmp_path):
    """The streamed trainer feed: word-frequency partials land over three
    file chunks, the merged word table feeds the exact batch chain, and
    the trained vocabulary must EQUAL the batch text_unigram_train rows.
    A lost-checkpoint replay lands nothing new and retrains identically
    (determinism doing real work — a sampled trainer could not be
    replay-pinned)."""
    from etl_financial_report_spark import registry

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    docs_dir = str(tmp_path / "docs")
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(docs_dir)

    got = runtime.run_unigram_train_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    want = registry.all_queries()["text_unigram_train"].fn(spark, SMOKE_SF_DIR)
    g = {tuple(r) for r in got.select(*want.columns).collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and g

    got2 = runtime.run_unigram_train_stream(
        spark, docs_dir, str(tmp_path / "out"), str(tmp_path / "ckpt2")
    )
    assert {tuple(r) for r in got2.select(*want.columns).collect()} == w


def test_quality_classifier_stream_matches_batch_operator(spark, tmp_path):
    """The streaming twin of text_quality_classifier (r12): held-out-mod
    docs stream in two file chunks and score against the corpus-trained
    persisted weights; landed verdicts must EXACTLY match the batch
    operator's rows for the same docs (weak_label, margin,
    predicted_keep — bit-exact integer margins), and a replayed append
    must not double-report."""
    from pyspark.sql import functions as F

    from etl_financial_report_spark.registry import all_queries

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    new_dir = str(tmp_path / "new_docs")
    slice_ = docs.where((F.col("doc_id") % 10) == 7)
    slice_.where(F.col("doc_id") < 250).coalesce(1).write.mode("append").parquet(new_dir)
    slice_.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(new_dir)

    got = runtime.run_quality_classifier_stream(
        spark,
        new_dir,
        SMOKE_SF_DIR,
        str(tmp_path / "scored"),
        str(tmp_path / "ckpt"),
    )
    want = (
        all_queries()["text_quality_classifier"]
        .fn(spark, SMOKE_SF_DIR)
        .where((F.col("doc_id") % 10) == 7)
    )
    g = {(r.doc_id, r.weak_label, r.margin, r.predicted_keep) for r in got.collect()}
    w = {
        (r.doc_id, r.weak_label, r.margin, r.predicted_keep) for r in want.collect()
    }
    assert g == w and len(g) == slice_.count()

    got2 = runtime.run_quality_classifier_stream(
        spark,
        new_dir,
        SMOKE_SF_DIR,
        str(tmp_path / "scored"),
        str(tmp_path / "ckpt2"),
    )
    assert got2.count() == len(g)
