"""Structured Streaming execution for the events surface (SURVEY.md §2.8).

The reference is strictly batch/button-triggered (mainTesting.py:842-847);
this module is the net-new streaming capability: file source -> watermark
-> windowed/stateful transform -> sink. Every pipeline here reuses the
batch transform functions from ``events.py`` where possible, so the batch
twin the DuckDB oracle checks and the streaming plan are the same logical
plan fed by a different source.

Scale notes (100 TB / 1000-executor shape):

* File-source streams parallelize per file-split; state (windows, dedup
  keys, per-user state) shards by grouping key across executors via the
  usual shuffle — no driver-side state.
* Watermarks bound state: tumbling/session windows and
  ``dropDuplicatesWithinWatermark`` all evict state older than the
  watermark, so long-running streams hold O(active keys), not O(history).
* ``applyInPandasWithState`` holds one state row per user_id — the
  at-scale pattern for custom sequential logic (same kernel as the CALK
  sectionizer: sequential within key, parallel across keys).

Drain contract (every runner goes through ``_drain``):

* availableNow: a run processes every file present at start, in
  micro-batches bounded by the source's files-per-trigger option, then
  stops; the runner returns once the query has terminated, and a failed
  micro-batch surfaces as ``StreamingQueryException``.
* One checkpoint per drain: each micro-batch runner passes its own
  ``checkpoint_dir`` (a runner with two drains uses one subdirectory
  each), and a fresh checkpoint replays every file from batch 0.
* Idempotent sinks keyed per file: landed partials are keyed on the md5
  of their source file (``_src_key``), never on the batch id, so a replay
  under a fresh checkpoint, in another file order or under a changed
  trigger config lands nothing twice.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import EVENTS
from .events import tumbling_counts


def _file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Parquet file-source stream over ``path``. Without ``schema`` it is
    the directory's footer schema (one footer read, no job);
    ``max_files_per_trigger`` bounds each micro-batch (None: unbounded)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream with a declared schema and a watermark.

    ``events_dir`` must hold parquet with a microsecond ``ts`` (the test
    fixture rewrites the driver's TIMESTAMP(NANOS) files via io.load_table
    first; a production deployment lands micros parquet directly).

    ``max_files_per_trigger`` bounds each microbatch — tests use it to
    force multi-batch runs so stateful operators prove their state
    actually carries across batches.
    """
    return _file_stream(spark, events_dir, EVENTS, max_files_per_trigger).withWatermark(
        "ts", watermark
    )


def _drain(writer: DataStreamWriter) -> None:
    """Run ``writer`` to completion over the files present at start."""
    writer.trigger(availableNow=True).start().awaitTermination()


def _drain_to_memory(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Drain ``df`` into the in-memory table ``name`` and return it."""
    _drain(df.writeStream.format("memory").queryName(name).outputMode(mode))
    return df.sparkSession.table(name)


def _drain_batches(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint_dir: str
) -> None:
    """Drain ``stream`` through ``fn(batch_df, batch_id)`` per micro-batch."""
    _drain(stream.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint_dir))


def _src_key(batch_id: int) -> Column:
    """md5 of each row's source file: the partial key that is the same
    rows whichever batch a trigger put the file in (non-file rows fall
    back to the batch id; file streams never reach it)."""
    return F.md5(
        F.coalesce(F.nullif(F.input_file_name(), F.lit("")), F.lit(f"batch-{batch_id}"))
    )


def _src_token_counts(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """(src, tok, n): one micro-batch's space-split token counts per
    source file."""
    return (
        batch_df.select(
            _src_key(batch_id).alias("src"), F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("src", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------------------------------------------- pipelines


def run_tumbling_stream(spark: SparkSession, events_dir: str, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts as a stream, complete output mode; identical
    logical aggregation to the oracle-checked ``events_tumbling_window``."""
    agg = tumbling_counts(stream_events(spark, events_dir))
    return _drain_to_memory(agg, "tumbling_stream", "complete")


def run_session_window_stream(
    spark: SparkSession, events_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native streaming sessionization: ``session_window(ts, gap)`` per
    user — the streaming twin of the batch lag+cumsum ``sessionize``."""
    agg = (
        stream_events(spark, events_dir)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _drain_to_memory(agg, "session_stream", "complete")


def run_dedupe_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming exactly-once on event_id: ``dropDuplicatesWithinWatermark``
    keeps one state entry per key inside the watermark horizon — the J3
    idempotent-ingest guard as bounded stream state."""
    deduped = stream_events(spark, events_dir).dropDuplicatesWithinWatermark(["event_id"])
    return _drain_to_memory(deduped, "dedupe_stream", "append")


# --------------------------------------------- custom stateful operator

USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _fold_user_totals(
    key: tuple, prior: tuple | None, pdfs: Iterator[pd.DataFrame]
) -> tuple[tuple, pd.DataFrame]:
    """Fold one user's pandas chunks into its (n_events, total_value)
    state; returns the new state and its output row. Shared by both
    stateful APIs."""
    (user_id,) = key
    n, total = prior if prior is not None else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    total = round(total, 6)
    return (n, total), pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    new, row = _fold_user_totals(key, state.get if state.exists else None, pdfs)
    state.update(new)
    yield row


def run_user_totals_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Custom stateful operator: per-user lifetime counters via
    ``applyInPandasWithState`` — arbitrary sequential logic per key with
    explicit state, the escape hatch when windowed aggs can't express the
    semantics (update mode; last row per user is the current total)."""
    stream = stream_events(spark, events_dir, max_files_per_trigger=max_files_per_trigger)
    totals = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(totals, "user_totals_stream", "update")


def _purchase_click_join(
    spark: SparkSession, events_dir: str, window_s: int, how: str
) -> DataFrame:
    """(purchase_id, click_id, user_id, p_ts): each purchase joined
    ``how`` to the same user's clicks in the preceding ``window_s``
    seconds, both sides watermarked streams."""
    clicks = (
        stream_events(spark, events_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        stream_events(spark, events_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_s} SECONDS")),
        how,
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "p_ts")


def run_stream_stream_join(
    spark: SparkSession, events_dir: str, window_s: int = 300
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    clicks in the preceding ``window_s`` seconds. Both sides carry
    watermarks and the join condition carries the time bound, so state on
    each side is evicted once the watermark passes the interval — the
    streaming twin of the batch range join (operators/asof.py)."""
    joined = _purchase_click_join(spark, events_dir, window_s, "inner").drop("p_ts")
    return _drain_to_memory(joined, "ss_join_stream", "append")


def run_stream_stream_left_outer(
    spark: SparkSession, events_dir: str, window_s: int = 300
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    null click columns when no click preceded it within ``window_s``.

    Outer emission is the semantically hard part of streaming joins: an
    unmatched left row can only be declared unmatched once the watermark
    has passed the end of its join interval (a matching click can no
    longer arrive), so null rows trail matched rows by the watermark
    delay. State stays bounded exactly as in the inner variant; purchases
    newer than (final watermark - interval) may still be pending when an
    availableNow run terminates — callers needing a complete answer batch
    over the closed prefix, which is what the test's batch twin does.
    """
    joined = _purchase_click_join(spark, events_dir, window_s, "leftOuter")
    return _drain_to_memory(joined, "ss_left_outer_stream", "append")


def run_dedupe_to_parquet(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Streaming dedup landed in a parquet file sink with a checkpoint —
    the exactly-once ingest shape: re-running against the same checkpoint
    reprocesses nothing, so the sink never double-writes (the streaming
    form of the J3 idempotency guard on the WRITE side)."""
    deduped = stream_events(spark, events_dir).dropDuplicatesWithinWatermark(["event_id"])
    _drain(
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def run_sliding_stream(
    spark: SparkSession, events_dir: str, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window counts as a stream (complete mode) — same logical
    plan as the oracle-checked ``events_sliding_window`` batch twin."""
    from .events import sliding_counts

    agg = sliding_counts(stream_events(spark, events_dir), width, slide)
    return _drain_to_memory(agg, "sliding_stream", "complete")


def run_stream_static_enrichment(
    spark: SparkSession, events_dir: str, sf_dir: str
) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (customer) loaded per microbatch. The static side needs no
    watermark and no state — each batch joins against the table as-of
    that batch, the standard dimension-enrichment shape (broadcast when
    small; here user_id maps onto the customer key space mod its size)."""
    from ..io import load_table

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    enriched = (
        stream_events(spark, events_dir)
        .join(F.broadcast(customers), "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _drain_to_memory(enriched, "enrich_stream", "complete")


def run_foreach_batch_upsert(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch idempotent upsert: each microbatch lands through the
    ParquetSink J3 guard (anti-join on the key before append), so a batch
    replayed after a failure cannot double-insert — the pattern for sinks
    with no native exactly-once support (JDBC upserts use the same shape,
    mainTesting.py:693-729's guard as stream-side logic)."""
    from ..sources.sinks import ParquetSink

    sink = ParquetSink(out_dir, partition_cols=())

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        compact = batch_df.select("event_id", "user_id", "event_type", "value")
        sink.append_idempotent(compact, key_cols=["event_id"])

    _drain_batches(stream_events(spark, events_dir), upsert, checkpoint_dir)


def run_corpus_ingest_stream(
    spark: SparkSession, docs_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming corpus ingest with cross-batch canonical dedup — the
    §2.8 twin of the batch keep-manifest's dedup gate: documents stream in
    per-file microbatches, each batch mints the canonical md5 key
    (lower/collapse/trim, text_canonicalize's native shape), collapses
    within-batch duplicates to the lowest doc_id, and lands through the
    ParquetSink J3 guard keyed on the canonical hash — so duplicates
    ACROSS batches and replayed batches both admit exactly one row. State
    is the sink itself (an anti-join per batch, no in-memory key set), so
    a year-long ingest holds zero streaming state for the dedup decision.
    Returns the deduped table."""
    from ..functions.hashing import exact_dup_key
    from ..sources.sinks import ParquetSink

    sink = ParquetSink(out_dir, partition_cols=("source",))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.withColumn("ck", exact_dup_key())
        # first-doc-per-cluster via two-phase groupBy+join (min partially
        # aggregates; a window over the content hash would hold a whole
        # dup cluster in one task even within a micro-batch)
        firsts = keyed.groupBy("ck").agg(F.min("doc_id").alias("doc_id"))
        first = keyed.join(firsts, ["ck", "doc_id"])
        sink.append_idempotent(first, key_cols=["ck"])

    _drain_batches(_file_stream(spark, docs_dir), upsert, checkpoint_dir)
    return sink.read(spark)


def run_incremental_dedup_stream(
    spark: SparkSession,
    new_docs_dir: str,
    corpus_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of ``dedup_incremental`` — the daily-ingest dedup as
    a stream: new documents arrive in per-file microbatches and each batch
    is verdicted (exact_dup / near_dup / unique + matched corpus doc)
    against the PRE-BUILT corpus dedup index. The index frames
    (hash->min-doc, minhash band keys, distinct tokens —
    operators/dedup.build_corpus_dedup_index) are materialized ONCE before
    the stream starts and reused by every batch: per-batch cost scales
    with the batch, never the corpus. In production the index is a set of
    tables maintained alongside the corpus; localCheckpoint stands in for
    that here. Verdicts land through the idempotent sink keyed on doc_id,
    so a replayed batch cannot double-report. Returns the verdict table."""
    from ..operators.dedup import build_corpus_dedup_index, incremental_verdicts
    from ..sources.sinks import ParquetSink

    index = {
        name: frame.localCheckpoint()
        for name, frame in build_corpus_dedup_index(corpus_docs).items()
    }
    sink = ParquetSink(out_dir, partition_cols=("verdict",))

    def verdict_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = incremental_verdicts(batch_df, index)
        sink.append_idempotent(out, key_cols=["doc_id"])

    _drain_batches(_file_stream(spark, new_docs_dir), verdict_batch, checkpoint_dir)
    return sink.read(spark)


def run_chunk_dedup_stream(
    spark: SparkSession,
    new_docs_dir: str,
    corpus_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of ``dedup_chunk_incremental`` — chunk-level
    staleness verdicts as new documents arrive in per-file microbatches.
    The corpus's distinct-chunk md5 index
    (operators/dedup.build_corpus_chunk_index) is materialized ONCE
    before the stream starts and probed by every batch: per-batch cost
    scales with the batch's chunk count, never the corpus (in production
    the index is the table the nightly keep-first job maintains;
    localCheckpoint stands in here). Verdicts land through the
    idempotent sink keyed on doc_id, so a replayed batch cannot
    double-report. Returns the verdict table."""
    from ..operators.dedup import build_corpus_chunk_index, chunk_incremental_verdicts
    from ..sources.sinks import ParquetSink

    cset = build_corpus_chunk_index(corpus_docs).localCheckpoint()
    sink = ParquetSink(out_dir, partition_cols=())

    def verdict_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = chunk_incremental_verdicts(batch_df, cset)
        sink.append_idempotent(out, key_cols=["doc_id"])

    _drain_batches(_file_stream(spark, new_docs_dir), verdict_batch, checkpoint_dir)
    return sink.read(spark)


def run_quality_classifier_stream(
    spark: SparkSession,
    new_docs_dir: str,
    corpus_sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of ``text_quality_classifier`` — the model-serving
    path of the r12 trained quality filter: new documents arrive in
    per-file microbatches and every batch scores against the weight
    table TRAINED ONCE on the corpus snapshot (operators/quality.
    _qc_weights, which rides the persisted index store — a fresh serving
    session loads the artifact from disk and never retrains). Per-batch
    cost is one broadcast join + one batch-sized groupBy; the weight
    broadcast is <= QC_NF + 6 rows regardless of corpus size. Scored
    verdicts (weak_label for agreement monitoring, margin,
    predicted_keep) land through the idempotent sink keyed on doc_id, so
    a replayed batch cannot double-report. Returns the verdict table."""
    from ..operators.quality import _qc_weights, qc_score_docs
    from ..sources.sinks import ParquetSink

    w = _qc_weights(spark, corpus_sf_dir)
    sink = ParquetSink(out_dir, partition_cols=())

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = qc_score_docs(batch_df, w).select(
            "doc_id",
            F.col("y").cast("long").alias("weak_label"),
            "margin",
            (F.col("margin") > 0).alias("predicted_keep"),
        )
        sink.append_idempotent(out, key_cols=["doc_id"])

    _drain_batches(_file_stream(spark, new_docs_dir), score_batch, checkpoint_dir)
    return sink.read(spark)


def run_token_drift_stream(
    spark: SparkSession,
    new_docs_dir: str,
    baseline_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of ``corpus_token_drift`` — the accept-a-new-crawl
    monitor as a stream: new documents arrive in per-file microbatches,
    each batch's token counts land through the idempotent sink keyed on
    (tok, source file) — a replay under a fresh checkpoint, in any file
    order, cannot double-count — and the final report rates the ACCUMULATED new-slice counts against the
    baseline corpus counts (materialized once, reused per batch zero
    times: the baseline only enters at report time). The rate/top-K math
    is textops.token_drift_report, the same code path as the batch query,
    so streaming and batch agree token-for-token (pinned by
    tests/test_streaming.py). Cross-batch state is the sink itself: a
    year of ingest holds no streaming state."""
    from ..operators.textops import token_drift_report
    from ..sources.sinks import ParquetSink

    base_cnt = (
        baseline_docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_old"))
        .localCheckpoint()
    )
    sink = ParquetSink(out_dir, partition_cols=())

    def count_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink.append_idempotent(_src_token_counts(batch_df, batch_id), key_cols=["tok", "src"])

    _drain_batches(_file_stream(spark, new_docs_dir), count_batch, checkpoint_dir)
    new_cnt = sink.read(spark).groupBy("tok").agg(F.sum("n").alias("n_new"))
    cnt = (
        base_cnt.join(new_cnt, "tok", "full_outer")
        .select(
            "tok",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    return token_drift_report(cnt)


def run_snapshot_ingest_stream(
    spark: SparkSession, docs_dir: str, table_dir: str, checkpoint_dir: str
) -> "SnapshotTable":
    """Streaming ingest into the versioned snapshot table
    (sources/snapshots.py): file-backed micro-batches commit one tagged
    version PER SOURCE FILE (tag = md5 of the file path), non-file
    batches one version tagged with an order-independent content
    fingerprint. The tags make replayed data a sink-level no-op, and
    because they derive from WHAT arrived rather than the checkpoint's
    batch NUMBERING — or its batch GROUPING — exactly-once survives both
    the lost-checkpoint disaster case (renumbered batches carrying
    already-ingested files still hit their original tags while genuinely
    new files mint new tags and commit) and a trigger-config change
    between run and replay (ADVICE r5: a replay that re-groups the same
    files into different per-batch sets finds each FILE's tag already
    committed, where a per-batch file-set tag would double-ingest). The
    classic foreachBatch + transactional-sink pattern;
    ParquetSink.append_idempotent dedupes by ROW key, this dedupes by
    file/batch content and keeps every version time-travelable. Returns
    the table; read(None) is the live view, read(v) any historical
    ingest state."""
    import hashlib

    from ..sources.snapshots import SnapshotTable

    table = SnapshotTable(table_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.inputFiles():
            # one commit per source file, tagged by the file's PATH, so
            # idempotency is independent of how a trigger config groups
            # files into batches. Paths come from input_file_name() (not
            # inputFiles()) so the where-filter below matches the exact
            # same spelling. The per-file path list is O(files/batch).
            paths = sorted(
                r["p"]
                for r in batch_df.select(F.input_file_name().alias("p"))
                .distinct()
                .collect()
            )
            seen = table.committed_tags()
            for path in paths:
                fp = hashlib.md5(path.encode("utf-8")).hexdigest()[:16]
                tag = f"file-{fp}"
                if tag in seen:
                    continue  # pre-check only; commit_append re-checks on race
                table.commit_append(
                    batch_df.where(F.input_file_name() == path), tag=tag
                )
        else:
            # order-independent multiset fingerprint of the rows (ADVICE
            # r5: count + bounded hash-sum alone is collision-prone).
            # Fold the full 64-bit row hashes four independent ways —
            # bounded sum (pmod keeps the ANSI long sum overflow-free out
            # to ~9e9 rows per batch), xor, min, max — then md5 the
            # combination; a colliding distinct batch must match all four
            # folds simultaneously.
            hashed = batch_df.select(
                F.xxhash64(*batch_df.columns).alias("_h")
            )
            agg = hashed.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.pmod(F.col("_h"), F.lit(10**9))), F.lit(0)
                ).alias("s"),
                F.coalesce(F.expr("bit_xor(_h)"), F.lit(0)).alias("x"),
                F.coalesce(F.min("_h"), F.lit(0)).alias("lo"),
                F.coalesce(F.max("_h"), F.lit(0)).alias("hi"),
            ).first()
            fold = f"{agg['n']}:{agg['s']}:{agg['x']}:{agg['lo']}:{agg['hi']}"
            fp = hashlib.md5(fold.encode("utf-8")).hexdigest()[:16]
            tag = f"content-{agg['n']}-{fp}"
            table.commit_append(batch_df, tag=tag)

    _drain_batches(_file_stream(spark, docs_dir), commit_batch, checkpoint_dir)
    return table


# ------------------------------------------ transformWithState (Spark 4)


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


def tws_available() -> bool:
    """True when the runtime can execute ``transformWithStateInPandas``:
    its driver/state-server protocol is protobuf-encoded, so the python
    environment must provide ``google.protobuf``."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class _UserTotalsProcessor(StatefulProcessor):
    """Per-user lifetime counters on the Spark 4 ``transformWithState``
    API — the successor to ``applyInPandasWithState`` with named state
    variables, timers, and TTL. Same semantics as ``_update_user_totals``
    above, kept side by side so both stateful surfaces stay covered."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("totals", USER_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        prior = self._state.get() if self._state.exists() else None
        new, row = _fold_user_totals(key, prior, rows)
        self._state.update(new)
        yield row

    def close(self) -> None:
        pass


def run_user_totals_tws(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The ``transformWithStateInPandas`` twin of
    ``run_user_totals_stream``. Requires the RocksDB state store (set on
    the session here; harmless for the other runners) and the protobuf
    package (the TWS state-server wire protocol) — call
    :func:`tws_available` first; environments without protobuf fall back
    to ``run_user_totals_stream``, which has identical semantics."""
    if not tws_available():
        raise ModuleNotFoundError(
            "transformWithStateInPandas needs the protobuf package "
            "(pyspark TWS state protocol); use run_user_totals_stream instead"
        )
    proc = _UserTotalsProcessor()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = stream_events(spark, events_dir, max_files_per_trigger=max_files_per_trigger)
    totals = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=USER_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_memory(totals, "user_totals_tws", "update")


def run_bloom_prefilter_stream(
    spark: SparkSession,
    new_docs_dir: str,
    corpus_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of ``dedup_bloom_prefilter`` — the runtime-filter
    pattern as an ingest stream: the corpus's bloom filter (distinct
    set-bit positions, ~KB) and its exact key set are materialized ONCE
    before the stream starts; each arriving micro-batch probes the
    broadcast filter, only 'maybe' docs take the exact membership join,
    and per-doc verdicts (bloom_maybe / exact_dup / false_positive) land
    through the idempotent sink keyed on doc_id — a replayed batch cannot
    double-report. Per-batch cost scales with the batch and the filter
    never rebuilds; in production the bit set maintains incrementally at
    corpus ingest (bloom inserts are monotone — union of filters IS the
    filter of the union). Batch/stream agreement is pinned by
    tests/test_streaming.py."""
    from ..functions.hashing import exact_dup_key
    from ..operators.dedup import BLOOM_K, bloom_positions
    from ..sources.sinks import ParquetSink

    def based(df: DataFrame) -> DataFrame:
        return df.select("doc_id", exact_dup_key().alias("ck")).withColumn(
            "base", F.conv(F.substring("ck", 1, 8), 16, 10).cast("long")
        )

    corpus_based = based(corpus_docs)
    filter_bits = (
        corpus_based.select(F.explode(bloom_positions(F.col("base"))).alias("r"))
        .select("r.j", "r.pos")
        .distinct()
        .localCheckpoint()
    )
    corpus_keys = corpus_based.select("ck").distinct().localCheckpoint()

    sink = ParquetSink(out_dir, partition_cols=())

    def verdict_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = based(batch_df)
        probes = b.select(
            "doc_id", F.explode(bloom_positions(F.col("base"))).alias("r")
        ).select("doc_id", "r.j", "r.pos")
        hits = (
            probes.join(F.broadcast(filter_bits), ["j", "pos"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_set"))
        )
        maybe = F.coalesce(F.col("n_set"), F.lit(0)) == BLOOM_K
        flagged = b.join(hits, "doc_id", "left").select(
            "doc_id", "ck", maybe.alias("bloom_maybe")
        )
        # only 'maybe' docs pay the exact membership join — the prefilter
        # is the point: a definitely-new doc costs zero corpus I/O
        checked = flagged.where(F.col("bloom_maybe")).join(
            corpus_keys.withColumn("present", F.lit(True)), "ck", "left"
        )
        out = (
            flagged.where(~F.col("bloom_maybe"))
            .select("doc_id", "bloom_maybe", F.lit(False).alias("exact_dup"))
            .unionByName(
                checked.select(
                    "doc_id",
                    "bloom_maybe",
                    F.coalesce("present", F.lit(False)).alias("exact_dup"),
                )
            )
            .select(
                "doc_id",
                "bloom_maybe",
                "exact_dup",
                (F.col("bloom_maybe") & ~F.col("exact_dup")).alias("false_positive"),
            )
        )
        sink.append_idempotent(out, key_cols=["doc_id"])

    _drain_batches(_file_stream(spark, new_docs_dir), verdict_batch, checkpoint_dir)
    return sink.read(spark)


def run_cms_stream(
    spark: SparkSession,
    new_docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming count-min sketch — the mergeability of
    ``text_cms_heavy_hitters``'s sketch proven through the stream: each
    micro-batch lands one PARTIAL (j, bucket, count) sketch PER SOURCE
    FILE through the idempotent sink (keyed by the file path, not the
    checkpoint's batch numbering — ADVICE r5: batch_id keys double-count
    when a replay re-groups the same files under a different trigger
    config; file keys are grouping-invariant, the same fix the snapshot
    ingest carries), and the global sketch is the counter-wise SUM of
    the partials — exactly the merge a 1000-executor ingest does with
    per-partition sketches, keyed here by file instead. Returns the
    merged (j, b, cnt) sketch frame; tests pin that it equals the batch
    operator's sketch counter-for-counter — the CMS merge theorem (sum
    of sketches of slices == sketch of the union) made executable — and
    that a replay under a CHANGED trigger config adds nothing."""
    from ..functions.hashing import hash32
    from ..operators.textops import CMS_W, cms_buckets
    from ..sources.sinks import ParquetSink

    sink = ParquetSink(out_dir, partition_cols=())

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        # partials keyed by SOURCE FILE, not batch id: a sketch of a file
        # is the same rows no matter which batch the trigger put it in,
        # so replays under any trigger config dedupe exactly
        partial = (
            _src_token_counts(batch_df, batch_id)
            .withColumn("base", hash32(F.col("tok")))
            .select("src", "n", F.explode(cms_buckets(F.col("base"), CMS_W)).alias("r"))
            .groupBy("src", "r.j", "r.b")
            .agg(F.sum("n").alias("cnt"))
        )
        sink.append_idempotent(partial, key_cols=["j", "b", "src"])

    stream = _file_stream(spark, new_docs_dir, max_files_per_trigger=max_files_per_trigger)
    _drain_batches(stream, sketch_batch, checkpoint_dir)
    return (
        sink.read(spark)
        .groupBy("j", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )


def run_cms_report_stream(
    spark: SparkSession,
    new_docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The streaming twin of the heavy-hitter REPORT (VERDICT r5 item 6):
    run_cms_stream proves the sketch merges; this closes the loop by
    emitting the same report ROWS the batch operator does. Each
    micro-batch lands BOTH its partial (j, b, cnt) sketch and its partial
    (tok, n) counts idempotently (keyed per SOURCE FILE — see
    run_cms_stream's ADVICE-r5 note on why batch ids double-count under
    a changed trigger config), then the merged counts + merged sketch
    feed the SHARED probe stage (textops.cms_probe_report), so the
    stream report is pinned row-for-row against text_cms_heavy_hitters
    in tests/test_streaming.py, including after a lost-checkpoint
    replay.
    The probe needs exact top-K counts, which is why the token counters
    stream alongside the sketch — at 100 TB that is the standard
    heavy-hitter pipeline: mergeable counters in the stream, one bounded
    probe at report time."""
    from ..operators import textops
    from ..functions.hashing import hash32
    from ..sources.sinks import ParquetSink

    merged_sketch = run_cms_stream(
        spark, new_docs_dir, f"{out_dir}/sketch", f"{checkpoint_dir}/sketch"
    )
    tok_sink = ParquetSink(f"{out_dir}/tokcnt", partition_cols=())

    def count_batch(batch_df: DataFrame, batch_id: int) -> None:
        tok_sink.append_idempotent(_src_token_counts(batch_df, batch_id), key_cols=["tok", "src"])

    _drain_batches(_file_stream(spark, new_docs_dir), count_batch, f"{checkpoint_dir}/tokcnt")
    toks = (
        tok_sink.read(spark)
        .groupBy("tok")
        .agg(F.sum("n").alias("n"))
        .withColumn("base", hash32(F.col("tok")))
    )
    return textops.cms_probe_report(toks, merged_sketch, textops.CMS_W)


def run_manifest_stream(
    spark: SparkSession,
    new_docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of pipeline_shard_checksums — the payoff of the
    XOR checksum's commutativity in Structured Streaming: each
    micro-batch lands its per-(source-file, shard) partial manifest
    (doc count, char sum, id range, hash XOR) idempotently, and the
    final manifest is a pure merge — counts/chars SUM, ranges MIN/MAX,
    checksums XOR — so the stream needs NO per-doc state and the landed
    partials stay a few rows per file. An ordered-concat digest could
    not stream at all (order arrives per trigger). Pinned row-for-row
    against the batch operator, replay no-op included, in
    tests/test_streaming.py."""
    from ..operators.pipelines import N_MANIFEST_SHARDS
    from ..functions.hashing import hash32
    from ..sources.sinks import ParquetSink

    sink = ParquetSink(f"{out_dir}/partials", partition_cols=())

    def manifest_batch(batch_df: DataFrame, batch_id: int) -> None:
        h60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
        part = (
            batch_df.select(
                _src_key(batch_id).alias("src"),
                (hash32(F.col("doc_id").cast("string")) % N_MANIFEST_SHARDS).alias(
                    "shard"
                ),
                "doc_id",
                "n_chars",
                h60.alias("h60"),
            )
            .groupBy("src", "shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("n_chars"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
                F.bit_xor("h60").alias("content_xor60"),
            )
        )
        sink.append_idempotent(part, key_cols=["src", "shard"])

    _drain_batches(_file_stream(spark, new_docs_dir), manifest_batch, checkpoint_dir)
    return (
        sink.read(spark)
        .groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
            F.bit_xor("content_xor60").alias("content_xor60"),
        )
    )


# Landed gate-row contract for run_corpus_build_stream. The r13 model
# gate grew the landed row (n, sl, ns, qfeats); a store landed by an
# older run has rows WITHOUT those columns, and appending new-schema
# rows next to them (or exploding qfeats at merge) would either fail
# with a column-resolution error or silently read a mixed-schema parquet
# directory (ADVICE r13). The version is stamped on every landed row and
# checked BEFORE the first append, so an incompatible store fails fast
# with an explicit remediation instead of corrupting itself.
GATE_SINK_SCHEMA_VERSION = 2
GATE_SINK_REQUIRED_COLS = (
    "doc_id", "source", "n_chars", "ck", "passes_quality", "whs",
    "n", "sl", "ns", "qfeats", "_gate_schema_v",
)


def _check_gate_sink_schema(spark: SparkSession, gate_sink) -> None:
    """Fail fast (with 'reland required') when an existing landed gate
    store predates GATE_SINK_SCHEMA_VERSION — schema check is one footer
    read; the version check is a min/max over a stats-served int column."""
    if not gate_sink.exists():
        return
    landed = gate_sink.read(spark)
    missing = [c for c in GATE_SINK_REQUIRED_COLS if c not in landed.columns]
    if missing:
        raise ValueError(
            f"gate store at {gate_sink.path} was landed by an older engine "
            f"version (missing columns: {missing}); reland required — delete "
            f"the gate store and the stream checkpoint, then re-run the "
            f"stream over the source files"
        )
    lo, hi = landed.agg(
        F.min("_gate_schema_v"), F.max("_gate_schema_v")
    ).first()
    if lo != GATE_SINK_SCHEMA_VERSION or hi != GATE_SINK_SCHEMA_VERSION:
        raise ValueError(
            f"gate store at {gate_sink.path} holds schema version(s) "
            f"[{lo}, {hi}] but this engine lands version "
            f"{GATE_SINK_SCHEMA_VERSION}; reland required — delete the gate "
            f"store and the stream checkpoint, then re-run the stream"
        )


def run_corpus_build_stream(
    spark: SparkSession,
    new_docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of pipeline_corpus_build — the daily-ingest reality
    of the corpus-build artifact: documents arrive file-by-file, each
    micro-batch lands ONE idempotent gate row per doc (content key,
    quality bit, distinct shingle set, char count) plus the holdout
    benchmark's shingles, and the final shard table is a pure merge over
    the landed state committed EXACTLY-ONCE through the snapshot table.

    Why this decomposition streams when the batch plan cannot:

      * the canonical-dedup gate needs the GLOBAL min doc_id per content
        key — per-doc landed keys make the final canonical a plain
        groupBy over landed rows, correct under ANY arrival order
        (min is commutative), unlike a first-arrival-wins incremental
        verdict;
      * decontamination needs every corpus doc's shingles against the
        FULL holdout set — holdout files can arrive after the docs they
        contaminate, so the landed per-doc distinct shingle array IS the
        persisted index a production incremental pipeline keeps (one
        bounded array per doc, never a corpus-sized exploded stream in
        the sink); shingle STRINGS are landed (not hashes) so the
        verdict is bit-identical to the batch join, no collision
        argument needed;
      * the model quality gate (r13) needs weights trained over the FULL
        corpus and a bar swept from the full held-out margin
        distribution — so each doc lands its bounded classifier inputs
        (shape stats + hashed-feature array) and train/score/sweep/select
        run ONCE over landed state in the merge, through the exact batch
        helpers (perceptron_weights / qc_score_frame / qc_sweep_frame /
        qc_gate_bar_frame): bit-identical to the batch gate under any
        arrival order;
      * mixture gating and shard packing are deterministic functions of
        the final kept set (hash gates + a prefix sum), so they run once
        in the merge, reusing the exact batch operators.

    The merged shard table commits to a SnapshotTable under a
    content-fingerprint tag (XOR of row hashes — order-free), so a
    REPLAYED stream (same checkpoint, or a re-run over the same files)
    publishes nothing new and readers time-travel across daily builds.
    Pinned row-for-row against pipeline_corpus_build after replay in
    tests/test_streaming.py."""
    from ..operators.dedup import DECONTAM_FRAC, DECONTAM_HOLDOUT, _shingle_rows, _shingles
    from ..operators.pipelines import content_key, quality_bit
    from ..operators.quality import (
        QC_ROUNDS,
        _qc_feats,
        _qc_label_frame,
        _qc_stats_frame,
        perceptron_weights,
        qc_gate_bar_frame,
        qc_score_frame,
        qc_sweep_frame,
    )
    from ..operators.sampling import _mix_bucket_col, _mix_rate_col, shard_pack
    from ..sources.sinks import ParquetSink
    from ..sources.snapshots import SnapshotTable

    gate_sink = ParquetSink(f"{out_dir}/gate_rows", partition_cols=())
    bench_sink = ParquetSink(f"{out_dir}/bench_shingles", partition_cols=())
    _check_gate_sink_schema(spark, gate_sink)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the gate columns are the SHARED builders from pipelines.py
        # (content_key / quality_bit), so the pinned stream-vs-batch
        # agreement is structural, not coincidental; toks is materialized
        # in a prior select per _shingles' contract (an inline split is
        # re-evaluated at every element_at -> O(tokens^2) per doc)
        docs = batch_df.select(
            "doc_id", "source", "n_chars", "text", F.split("text", " ").alias("toks")
        )
        # model-gate inputs land WITH the doc (r13): the shape stats and
        # the bounded hashed-feature array are the classifier's ONLY
        # per-doc inputs — training/scoring then run once at merge time
        # over landed state, so the model gate is arrival-order free
        st = _qc_stats_frame(docs)
        feats = (
            _qc_feats(docs, st)
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("f", "c")).alias("qfeats"))
        )
        rows = (
            docs.select(
                "doc_id",
                "source",
                "n_chars",
                content_key(F.col("text")).alias("ck"),
                quality_bit(F.col("toks")).alias("passes_quality"),
                _shingles(F.col("text"), F.col("toks")).alias("whs"),
            )
            .join(st, "doc_id")
            .join(feats, "doc_id")
            .withColumn("_gate_schema_v", F.lit(GATE_SINK_SCHEMA_VERSION))
        )
        gate_sink.append_idempotent(rows, key_cols=["doc_id"])
        bench = _shingle_rows(docs.where(F.col("source") == DECONTAM_HOLDOUT)).distinct()
        bench_sink.append_idempotent(bench, key_cols=["w"])

    _drain_batches(_file_stream(spark, new_docs_dir), gate_batch, checkpoint_dir)

    gate = gate_sink.read(spark)
    canon = gate.groupBy("ck").agg(F.min("doc_id").alias("canonical_id"))
    corpus = gate.where(F.col("source") != DECONTAM_HOLDOUT)
    bench = bench_sink.read(spark) if bench_sink.exists() else None
    grams = corpus.select("doc_id", F.size("whs").alias("n_grams"), F.explode("whs").alias("w"))
    if bench is not None:
        hits = (
            grams.join(bench, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
    else:
        hits = corpus.select("doc_id", F.lit(0).alias("n_contaminated")).where(F.lit(False))
    contam = (
        corpus.select("doc_id", F.size("whs").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double")
                / F.col("n_grams")
                >= DECONTAM_FRAC
            ).alias("is_contaminated"),
        )
    )
    # model gate (r13): train the perceptron + score + sweep + select the
    # bar ONCE over the landed state — the exact batch math over the
    # exact batch inputs (labels from landed n/sl/ns, features from the
    # landed arrays), so the streamed gate is bit-identical to
    # pipeline_keep_manifest's regardless of file arrival order
    st_all = gate.select("doc_id", "n", "sl", "ns")
    lab = _qc_label_frame(st_all)
    fb = (
        gate.select("doc_id", F.explode("qfeats").alias("g"))
        .select("doc_id", F.col("g.f").alias("f"), F.col("g.c").alias("c"))
        .localCheckpoint()  # consumed 2x per training round + scoring
    )
    w = perceptron_weights(
        fb, lab.where(~F.col("held_out")).select("doc_id", "y"), QC_ROUNDS
    )
    scored = qc_score_frame(fb, lab, w)
    qbar = qc_gate_bar_frame(qc_sweep_frame(spark, scored)).select("qbar")
    model_pass = (
        scored.crossJoin(F.broadcast(qbar))
        .where(F.col("margin") > F.col("qbar"))
        .select("doc_id")
    )
    kept = (
        corpus.join(canon, "ck")
        .join(contam, "doc_id", "left")
        .join(model_pass, "doc_id", "left_semi")
        .where(
            (F.col("doc_id") == F.col("canonical_id"))
            & F.col("passes_quality")
            & ~F.coalesce("is_contaminated", F.lit(False))
            & (_mix_bucket_col() < _mix_rate_col())
        )
        .select("doc_id", "n_chars")
    )
    # pin the merged shard table once: the content fingerprint AND the
    # snapshot write both consume it (otherwise the whole merge plan
    # evaluates twice)
    shards = shard_pack(kept).localCheckpoint()

    # exactly-once shard commit: the tag is an order-free content
    # fingerprint of the shard rows, so a replayed merge no-ops
    snap = SnapshotTable(f"{out_dir}/shards_table")
    fp = shards.agg(
        F.coalesce(
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", "shard_id", "n_docs", "shard_chars", "first_doc", "last_doc"
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ),
            F.lit(0),
        ).alias("fp")
    ).collect()[0]["fp"]
    snap.commit_replace(shards, tag=f"corpus-build:{fp}")
    return snap.read(spark)


def run_unigram_train_stream(
    spark: SparkSession,
    new_docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming twin of text_unigram_train — tokenizer training over a
    STREAMED corpus: each micro-batch lands its per-(source-file, word)
    frequency partials idempotently (word counts are the trainer's ONLY
    corpus-scaled input, and counts merge by commutative SUM — the same
    decomposition run_manifest_stream exploits), and the trainer runs
    once over the merged word table through the exact batch chain
    (unigram_train_output), so stream-vs-batch agreement reduces to
    word-table agreement. Replay with a lost checkpoint lands nothing
    new (the (src, tok) key) and retrains to the identical vocabulary —
    the deterministic-trainer property doing real work. Pinned
    row-for-row vs the batch query in tests/test_streaming.py."""
    from ..operators.unigram import UNIGRAM_MAX_WORD, unigram_train_output
    from ..sources.sinks import ParquetSink

    sink = ParquetSink(f"{out_dir}/word_partials", partition_cols=())

    def word_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = _src_token_counts(batch_df, batch_id).where(
            F.length("tok").between(1, UNIGRAM_MAX_WORD)
        )
        sink.append_idempotent(part, key_cols=["src", "tok"])

    _drain_batches(_file_stream(spark, new_docs_dir), word_batch, checkpoint_dir)
    words = (
        sink.read(spark).groupBy("tok").agg(F.sum("n").cast("long").alias("n"))
    )
    return unigram_train_output(spark, words)
