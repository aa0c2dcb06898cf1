"""Source-level scale-discipline net: the anti-patterns this engine has
eliminated must not creep back in. Each rule greps the package source and
fails on NEW occurrences outside the documented allowlist — cheaper than a
plan test and it covers every operator at once.

Allowlisted exceptions are the ones the plan review accepted:
  * driver-side collects: P9's 2-pass schema op and the small-output Excel
    sink.
  * unpartitioned windows: frames proven bounded (per-group offsets, per-
    day/quarter aggregates, the 8-row ANN probe ranking).
"""

import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "etl_financial_report_spark"

#: files allowed to call .collect() (documented driver-side operations)
ALLOWED_COLLECT = {
    "operators/nullcol.py": 1,  # P9 null-column prune: 2-pass schema op
    "sources/excel.py": 1,  # driver-side Excel sink, small-output-only
    # per-batch distinct source-file path list in the snapshot-ingest
    # foreachBatch (ADVICE r5 per-file tags): O(files per trigger) rows,
    # bounded by maxFilesPerTrigger — never row-scaled; plus the 1-row
    # shard-table content fingerprint the corpus-build stream's
    # exactly-once snapshot commit tags with
    "streaming/runtime.py": 2,
    # BPE early-stop: one collect per merge WINDOW of BPE_CHECKPOINT_EVERY
    # 1-row best-pair aggregates — the stop decision is driver-side by
    # nature and the row count is merge-bounded, never corpus-scaled
    "operators/textops.py": 1,
    # unigram trainer: seed vocabulary (alphabet + UNIGRAM_SEED_K rows
    # after a distributed TakeOrdered) and piece-usage counts (<= |seed|)
    # — vocabulary-bounded, never corpus-scaled; the collected dict
    # becomes the broadcast map literal of the expression-DP segmenter;
    # plus the persisted-index hit path re-collecting the stored vocab
    # table (UNIGRAM_KEEP_K + alphabet rows, same bound as the trainer)
    "operators/unigram.py": 3,
    # min_label_components: one bounded probe per contraction round of at
    # most DRIVER_CC_MAX_EDGES + 1 component-edge rows (a fixed constant,
    # never corpus-scaled); a graph that fits finishes on the driver
    "operators/dedup.py": 1,
    # _modal_dim: the embedding conformance gate's 1-ROW modal-dimension
    # collect, memoized per (sf_dir, embeddings mtime) — one tiny
    # size-histogram job per process (the io footer-cache pattern; a
    # cluster catalog's column statistics serve this role), after which
    # the gate is a pure pushable row filter with zero plan subtrees;
    # sample_coreset_fps: FPS_K+1 one-ROW pick collects (the BPE-winners
    # discipline — K-bounded driver round trips, the next round scores
    # against the pick as a literal vector, never corpus-scaled rows)
    "operators/similarity.py": 2,
}

#: files allowed unpartitioned Window.orderBy, with the count of BOUNDED
#: frames each was reviewed to have
ALLOWED_GLOBAL_WINDOW = {
    "operators/sampling.py": 4,  # pack_shards: n/G group-total prefix;
    # sample_quality_budget: per-band totals prefix (<= 64 + 1 rows);
    # pack_token_sequences: the same n/G group-total prefix frame;
    # _calibrated_budget_frame: per-(bin, mband) totals prefix — bins are
    # the <= QC_SWEEP_DECILES(9)+1 sweep intervals and mband the same
    # bounded margin-band family as the threshold sweep's (margins are
    # weight-table-bounded dots), so the frame is <= ~10 x 64 rows
    "operators/windows.py": 1,  # interval sweep: per-day frame
    # threshold sweep: band-offset prefix over the <= 64-row margin-band
    # totals (the pack_shards two-level discipline; within-band ranks are
    # partitioned)
    "operators/quality.py": 1,
    "operators/relational.py": 2,  # ntile band offsets + year/quarter frame
    # IVF probe ranking + residual-IVFPQ nprobe ranking: each orders the
    # N_CELLS(=8) centroid cosines of ONE query vector — bounded frames;
    # RRF fusion: two rank windows over ALREADY-LIMITed
    # HYBRID_LIST_N(=20)-row modality heads (TakeOrdered runs first)
    "operators/similarity.py": 4,
}


#: window partition keys reviewed as scale-safe. A window partition is
#: indivisible — no partial aggregation, no AQE skew-split — so every key
#: here must have a BOUNDED per-key row count. Three reviewed classes:
#:   * entity keys — rows per key track one entity's activity (a user's
#:     events, an order's lines, a doc's sections), not corpus size;
#:   * dimension keys — fan-in bounded by a dimension table (suppliers
#:     per part, customers ranked within the 25-nation dimension);
#:   * constructed groups — bounded by construction (pack_group holds
#:     exactly _PACK_GROUP rows; band is stage 1 of the two-level ntile
#:     prefix pattern, n/n_bands rows as the parallel unit).
#: Corpus-derived content keys (token, span/shingle hash, content hash,
#: cluster id, LSH band/bucket, label) must NOT appear here: use a
#: two-phase groupBy+join (see text_dup_span_frac, dedup_keep_list) or
#: the salted two-level top-k (functions/topk.py) instead.
ALLOWED_WINDOW_PARTITION_KEYS = {
    # entity keys
    "user_id", "l_orderkey", "o_custkey", "c_custkey", "doc_id",
    "file_id", "grup", "path", "vec_id", "q_id",
    "b_id",  # batch-vector id (vec_id alias in incremental semantic dedup)
    # dimension keys
    "c_nationkey", "p_partkey",
    # constructed bounded groups
    "pack_group", "band",
    # calibrated-budget two-level prefix: "mband" is the same reviewed
    # margin-sub-band family as "band" (splits the global margin order
    # into parallel runs; key space bounded by the weight-table-bounded
    # margin range / _CAL_MBAND), "bin" the <= sweep-deciles+1 interval
    "bin", "mband",
    # PQ subspace index: 4 literal values, always combined with vec_id
    "m",
}

#: files allowed Window.partitionBy calls with NON-LITERAL key args, with
#: the reviewed count: the as-of join partitions by the caller's join
#: keys (entity keys by contract), and the top-k helper's two windows are
#: the salted stage 1 and the <= n_salt*k-bounded stage 2.
ALLOWED_DYNAMIC_WINDOW_FILES = {
    "operators/asof.py": 1,
    "functions/topk.py": 2,
}


def _sources():
    for p in PKG.rglob("*.py"):
        yield str(p.relative_to(PKG)), p.read_text()


def test_no_new_driver_side_collects():
    for rel, src in _sources():
        n = src.count(".collect()")
        assert n <= ALLOWED_COLLECT.get(rel, 0), (
            f"{rel} has {n} .collect() calls — hot-path collects are the "
            "round-1 scale bug; if this one is genuinely driver-side and "
            "bounded, document it and extend the allowlist"
        )


def test_no_new_unpartitioned_windows():
    pat = re.compile(r"Window\.orderBy")
    for rel, src in _sources():
        n = len(pat.findall(src))
        assert n <= ALLOWED_GLOBAL_WINDOW.get(rel, 0), (
            f"{rel} has {n} unpartitioned Window.orderBy frames — a global "
            "window is a single-reducer sort at scale; partition it (see "
            "pack_shards' two-level prefix sum) or prove the frame bounded "
            "and extend the allowlist"
        )


def _partition_by_calls(src):
    """Yield the argument text of every Window.partitionBy(...) call,
    scanning to the balanced close paren (args can span lines)."""
    marker = "Window.partitionBy("
    start = 0
    while True:
        i = src.find(marker, start)
        if i < 0:
            return
        j = i + len(marker)
        depth = 1
        while depth and j < len(src):
            depth += {"(": 1, ")": -1}.get(src[j], 0)
            j += 1
        yield src[i + len(marker) : j - 1]
        start = j


def test_no_content_keyed_window_partitions():
    """VERDICT r3 task 3: a window partitioned by a corpus-derived value
    (token, content hash, span hash, LSH band, cluster id) puts an entire
    hot key's rows in one indivisible task — no partial aggregation, no
    AQE skew-split. Every literal partition key must come from the
    reviewed bounded-key list; calls with computed keys need a per-file
    allowlist entry."""
    lit = re.compile(r"^[\"']([^\"']+)[\"']$")
    for rel, src in _sources():
        dynamic = 0
        for args in _partition_by_calls(src):
            parts = [a.strip() for a in args.split(",") if a.strip()]
            matched = [lit.match(p) for p in parts]
            if all(matched):
                for m in matched:
                    assert m.group(1) in ALLOWED_WINDOW_PARTITION_KEYS, (
                        f"{rel}: Window.partitionBy key {m.group(1)!r} is not "
                        "a reviewed bounded key — if it is corpus-derived, "
                        "two-phase it (groupBy+join) or use "
                        "functions/topk.py; if genuinely bounded, document "
                        "why and extend ALLOWED_WINDOW_PARTITION_KEYS"
                    )
            else:
                dynamic += 1
        assert dynamic <= ALLOWED_DYNAMIC_WINDOW_FILES.get(rel, 0), (
            f"{rel} has {dynamic} Window.partitionBy call(s) with computed "
            "keys — review the key's bound and extend "
            "ALLOWED_DYNAMIC_WINDOW_FILES"
        )


def test_no_row_at_a_time_python_udfs():
    pat = re.compile(r"F\.udf\(|@udf\b|functions\.udf\(")
    for rel, src in _sources():
        assert not pat.search(src), (
            f"{rel} registers a row-at-a-time Python UDF — use built-in "
            "expressions or an Arrow-batched pandas UDF"
        )


def test_no_unguarded_cartesian_cross_joins():
    # every crossJoin must broadcast its (bounded) side: scalar cutoffs,
    # 1-row query vectors, centroid sets
    pat = re.compile(r"\.crossJoin\((?!F\.broadcast\()")
    for rel, src in _sources():
        assert not pat.search(src), (
            f"{rel} has a crossJoin without F.broadcast — an unguarded "
            "cartesian over two corpus-sized sides"
        )


def test_registry_oracle_coverage():
    """CORRECTNESS_r06's third red row: the driver records `err:
    no_oracle` for any queries() entry missing an oracle_sql() entry —
    the old rows-only assumption is falsified. 100% coverage, no
    exceptions: engine-specific sketch outputs reshape to exact twins +
    literal-expected gate booleans instead (agg_approx_distinct,
    dedup_bloom_native et al.)."""
    from etl_financial_report_spark import registry

    missing = [n for n, q in registry.all_queries().items() if q.oracle is None]
    assert not missing, (
        f"registered queries without an oracle (each is a red driver row "
        f"when sampled): {missing} — reshape the output to "
        "oracle-expressible values or move the query to the pytest-only "
        "surface"
    )


def _canonical_outputs_audit(spark, names):
    """CORRECTNESS_r06's other two red rows: the driver canonicalizer
    does a pandas sort over raw output columns and dies with
    `TypeError: unhashable type: 'numpy.ndarray'` on ANY top-level
    array/map/struct column. Walk the given queries' analyzed schemas at
    sf0.001 and fail on non-atomic output types — this class of red row
    must be structurally impossible, like the collect() and
    global-window nets above."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_financial_report_spark import registry

    all_q = registry.all_queries()
    bad = []
    for name in names:
        df = all_q[name].fn(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, (
        f"registered queries with non-atomic output columns (driver "
        f"canonicalizer breaks on these): {bad} — serialize via "
        "functions/canon.py (csv_longs / joined_strings) and mirror in "
        "the oracle SQL"
    )


def test_registry_outputs_driver_canonical(spark):
    """Default slice (optimization r15, driver test budget): the same
    deterministic every-4th-query rotation as test_plans' audit — the
    full walk cost ~150 s in one test; the complete version stays under
    the opt-in `slow` marker."""
    from test_plans import _audit_sample

    _canonical_outputs_audit(spark, _audit_sample())


@pytest.mark.slow
def test_registry_outputs_driver_canonical_full(spark):
    from etl_financial_report_spark import registry

    _canonical_outputs_audit(spark, sorted(registry.all_queries()))
