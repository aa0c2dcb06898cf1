"""~sf1 scale smoke (VERDICT r2 task 4): the cheapest local proxy for the
100x question. The big LLM-pipeline tables (documents / events / embeddings)
are replicated 10x with shifted ids — replicas are EXACT near-dup clusters,
deliberately the adversarial shape for dedup (every LSH band collides across
replicas) — and the top shuffle-heavy queries run end-to-end on the result:

  * dedup_lsh_verified    — minhash -> banding -> pair-driven exact verify
  * dedup_components      — iterative label propagation over the pair graph
  * sim_pairwise_cosine   — the blocked all-pairs grid, B raised to 16
  * tpch_q21              — the decorrelated multi-pass lineitem query

Each run records wall time + AQE/skew plan markers to SCALE_SMOKE.json at
the repo root so round-over-round drift is visible. Structural assertions
(cover-every-doc, replica pairs found) keep it a correctness smoke, not
just a timing loop.
"""

import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_financial_report_spark import registry
from etl_financial_report_spark.io import TABLES, load_table
from etl_financial_report_spark.plans import formatted_plan

SRC_SF = "/root/testdata/sf0.1"
REPLICAS = 10
ID_OFFSET = 10_000_000
ARTIFACT = str(Path(__file__).resolve().parents[1] / "SCALE_SMOKE.json")

pytestmark = pytest.mark.slow


@pytest.fixture(scope="session")
def sf1_dir(spark, tmp_path_factory):
    """10x-replicated documents/events/embeddings; every other table is a
    symlink to sf0.1 (read-only source, never written)."""
    root = tmp_path_factory.mktemp("sf1")
    rep = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep")
    shifted = {
        "documents": ("doc_id",),
        "events": ("event_id", "user_id"),
        "embeddings": ("vec_id",),
    }
    for name, id_cols in shifted.items():
        df = load_table(spark, SRC_SF, name).select("*", rep)
        for c in id_cols:
            df = df.withColumn(c, F.col(c) + F.col("rep") * ID_OFFSET)
        df.drop("rep").repartition(32).write.parquet(str(root / f"{name}.parquet"))
    for name in TABLES:
        if name not in shifted:
            os.symlink(f"{SRC_SF}/{name}.parquet", str(root / f"{name}.parquet"))
    return str(root)


def _run(spark, name, make_df, record):
    t0 = time.monotonic()
    df = make_df()  # construction included: localCheckpoint stages run here
    n = df.count()
    elapsed = time.monotonic() - t0
    plan = formatted_plan(df)  # post-action: AQE-final plan
    record[name] = {
        "rows": n,
        "sec": round(elapsed, 2),
        "adaptive": "AdaptiveSparkPlan" in plan,
        "aqe_coalesced_read": "AQEShuffleRead" in plan,
        "skewed_join": "skew=true" in plan,
    }
    return df, n


@pytest.fixture(scope="session")
def smoke_record():
    rec = {}
    yield rec
    # merge into the existing artifact so a partial (-k / single-test)
    # run refreshes only the queries it ran instead of clobbering the rest
    merged = {}
    try:
        with open(ARTIFACT) as f:
            merged = json.load(f).get("queries", {})
    except (OSError, ValueError):
        pass
    merged.update(rec)
    with open(ARTIFACT, "w") as f:
        json.dump({"sf": "sf0.1 x 10", "queries": merged}, f, indent=1, sort_keys=True)


def test_lsh_verified_finds_replica_pairs(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "dedup_lsh_verified",
        lambda: registry.all_queries()["dedup_lsh_verified"].fn(spark, sf1_dir),
        smoke_record,
    )
    # every base doc's 10 replicas are identical -> C(10,2) candidate pairs
    # per base doc must surface and verify as dups (jaccard 1.0)
    n_base = 5000
    min_replica_pairs = n_base * REPLICAS * (REPLICAS - 1) // 2
    assert n >= min_replica_pairs
    dup_pairs = df.where(F.col("is_dup")).count()
    assert dup_pairs >= min_replica_pairs


def test_components_cover_scaled_corpus(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "dedup_components",
        lambda: registry.all_queries()["dedup_components"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_docs = load_table(spark, sf1_dir, "documents").count()
    assert n == n_docs
    # replicas collapse: far fewer components than documents
    n_components = df.select("component").distinct().count()
    assert n_components <= n_docs // REPLICAS


def test_semantic_keep_list_at_scale(spark, sf1_dir, smoke_record):
    """SemDeDup end-to-end at x10 (identical replicas): every vector
    verdicts once, and each base vector's 10 identical replicas collapse
    to one kept canonical. Recorded so the x100 artifact has a ratio
    denominator for the contraction-based components path."""
    df, n = _run(
        spark,
        "dedup_semantic_keep_list",
        lambda: registry.all_queries()["dedup_semantic_keep_list"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_vecs = load_table(spark, sf1_dir, "embeddings").count()
    assert n == n_vecs
    kept = df.where(F.col("keep")).count()
    assert kept <= n_vecs - 2000 * (REPLICAS - 1)


def test_blocked_cosine_at_scale(spark, sf1_dir, smoke_record):
    from etl_financial_report_spark.operators.similarity import cosine_pairs

    df, n = _run(
        spark,
        "sim_pairwise_cosine_b16",
        lambda: cosine_pairs(spark, sf1_dir, threshold=0.3, n_blocks=16),
        smoke_record,
    )
    # identical replicas guarantee C(10,2) cosine-1.0 pairs per base vector
    assert n >= 2000 * REPLICAS * (REPLICAS - 1) // 2


def test_dup_span_frac_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "text_dup_span_frac",
        lambda: registry.all_queries()["text_dup_span_frac"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_docs = load_table(spark, sf1_dir, "documents").count()
    assert n == n_docs
    # replicas make every span a cross-doc duplicate: the corpus-wide
    # window must score (almost) everything dup
    full_dup = df.where(F.col("dup_span_frac") == 1.0).count()
    assert full_dup == n_docs


def test_decontaminate_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "dedup_decontaminate",
        lambda: registry.all_queries()["dedup_decontaminate"].fn(spark, sf1_dir),
        smoke_record,
    )
    # every non-holdout doc is scored, including explicit zeros
    from etl_financial_report_spark.operators.dedup import DECONTAM_HOLDOUT

    n_corpus = (
        load_table(spark, sf1_dir, "documents")
        .where(F.col("source") != DECONTAM_HOLDOUT)
        .count()
    )
    assert n == n_corpus


def test_simhash64_hamming_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "dedup_simhash64_hamming",
        lambda: registry.all_queries()["dedup_simhash64_hamming"].fn(spark, sf1_dir),
        smoke_record,
    )
    # identical replicas share the full 64-bit signature: every replica
    # pair collides on all 4 pigeonhole blocks at hamming 0
    n_base = 5000
    assert n >= n_base * REPLICAS * (REPLICAS - 1) // 2
    assert df.where(F.col("hamming") == 0).count() >= n_base * REPLICAS * (REPLICAS - 1) // 2


def test_simhash64_bucket_occupancy_at_scale(spark, sf1_dir, smoke_record):
    """VERDICT r3 done-criterion for the Manku-ized hamming join: at the
    x10 corpus the candidate buckets stay tiny. With ~32-bit Manku keys,
    occupancy is bounded by (largest identical-signature cluster) + hash
    noise — here the 10 replicas — NOT by n/2^16 as under the old
    single-block keys (which would admit ~8 docs/bucket at 50k docs and
    grow linearly from there). The histogram lands in SCALE_SMOKE.json so
    round-over-round drift is visible."""
    from etl_financial_report_spark.operators.dedup import (
        SIM64_MAX_BUCKET,
        simhash64_bucket_occupancy,
    )

    t0 = time.monotonic()
    occ = simhash64_bucket_occupancy(spark, sf1_dir)
    top = occ.orderBy(F.desc("bucket_n"), "tbl", "key").limit(5).collect()
    stats = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_n").alias("max_occ"),
        F.sum((F.col("bucket_n") > SIM64_MAX_BUCKET).cast("long")).alias("hot"),
    ).collect()[0]
    smoke_record["simhash64_bucket_occupancy"] = {
        "rows": stats.n_buckets,
        "sec": round(time.monotonic() - t0, 2),
        "max_occupancy": stats.max_occ,
        "hot_buckets_over_default_cap": stats.hot,
        "top5": [r.bucket_n for r in top],
    }
    # every bucket must sit far below the default cap (no recall loss at
    # this scale), and within replica-cluster + noise territory
    assert stats.hot == 0
    assert stats.max_occ <= REPLICAS * 8


def test_sign_bucket_split_at_scale(spark, sf1_dir, smoke_record):
    """The embedding pair path at the x10 corpus (~20k vectors, every
    base vector with 10 IDENTICAL replicas): the exact collapse must fold
    each replica group to one representative (n_distinct = corpus / 10) —
    after which the 2k distinct vectors fit level-0 buckets WITHOUT any
    split (the collapse shrinking the problem below the split cap IS the
    design working; the x100 smoke, whose rotated replicas stay distinct,
    asserts the split engages). Occupancy must stay bounded and no bucket
    may need the probe backstop. The stats land in SCALE_SMOKE.json so
    round-over-round occupancy drift is visible."""
    from etl_financial_report_spark.operators.similarity import (
        SIM_MAX_BUCKET,
        SIM_SPLIT_CAP,
        sim_bucket_occupancy_stats,
    )

    t0 = time.monotonic()
    stats = sim_bucket_occupancy_stats(spark, sf1_dir).collect()[0]
    smoke_record["sim_bucket_occupancy_stats"] = {
        "rows": 1,
        "sec": round(time.monotonic() - t0, 2),
        "n_vectors": stats.n_vectors,
        "n_distinct": stats.n_distinct,
        "max_group_n": stats.max_group_n,
        "n_buckets": stats.n_buckets,
        "max_occupancy": stats.max_occupancy,
        "split_buckets": stats.split_buckets,
        "hot_buckets": stats.hot_buckets,
        "recovered_probes": stats.recovered_probes,
    }
    # identical replicas collapse BEFORE bucketing
    assert stats.n_vectors == stats.n_distinct * REPLICAS
    assert stats.max_group_n == REPLICAS
    # ...and the collapsed corpus no longer even needs the split: every
    # level-0 bucket fits the cap (x100 asserts the split path instead)
    assert stats.max_occupancy <= SIM_SPLIT_CAP
    assert stats.hot_buckets == 0 and stats.recovered_probes == 0
    assert stats.max_occupancy <= SIM_MAX_BUCKET


def test_bucketed_pairs_at_scale(spark, sf1_dir, smoke_record):
    """The collapse+split pair path end-to-end at x10: each base vector's
    10 identical replicas collapse to one representative and re-attach as
    REPLICAS - 1 star edges (cosine 1.0) — the certificate form, never
    C(10,2) quadratic intra-group pairs — so the pair count must cover at
    least one star per collapsed replica."""
    df, n = _run(
        spark,
        "sim_bucketed_cosine_pairs",
        lambda: registry.all_queries()["sim_bucketed_cosine_pairs"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_base = load_table(spark, SRC_SF, "embeddings").count()
    stars = df.where(F.col("cosine") >= 0.999).count()
    assert stars >= n_base * (REPLICAS - 1)
    assert n >= n_base * (REPLICAS - 1)


def test_q21_runs_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "tpch_q21",
        lambda: registry.all_queries()["tpch_q21_sole_blame_supplier"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n > 0


def test_incremental_dedup_at_scale(spark, sf1_dir, smoke_record):
    """The daily-ingest shape at the x10 corpus: the batch slice
    (doc_id % 10 == 7 — replicas preserve the residue, so it is ~10% of
    the scaled corpus) verdicts against the other ~90% without the corpus
    ever self-joining. Every batch doc must come back exactly once, and
    exact dups must be found: identical replicas of base docs whose
    copies land in corpus residues make exact_dup verdicts plentiful."""
    from etl_financial_report_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )

    df, n = _run(
        spark,
        "dedup_incremental",
        lambda: registry.all_queries()["dedup_incremental"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_batch = (
        load_table(spark, sf1_dir, "documents")
        .where((F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM)
        .count()
    )
    assert n == n_batch
    verdicts = {r.verdict for r in df.select("verdict").distinct().collect()}
    assert verdicts <= {"exact_dup", "near_dup", "unique"}
    assert df.where(F.col("verdict") == "exact_dup").count() > 0


def test_span_scrub_at_scale(spark, sf1_dir, smoke_record):
    """r4 scrub op at the x10 corpus: identical replicas make EVERY span a
    cross-document duplicate, so every doc long enough to have spans must
    be scrubbed to nothing — the adversarial worst case for the two-phase
    span counter (hottest possible span keys) AND a structural oracle."""
    from etl_financial_report_spark.operators.quality import SPAN_N

    df, n = _run(
        spark,
        "dedup_span_scrub",
        lambda: registry.all_queries()["dedup_span_scrub"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_docs = load_table(spark, sf1_dir, "documents").count()
    assert n == n_docs
    long_not_emptied = df.where(
        (F.col("n_tokens") >= SPAN_N) & (F.col("n_dropped") != F.col("n_tokens"))
    ).count()
    assert long_not_emptied == 0
    short_touched = df.where(
        (F.col("n_tokens") < SPAN_N) & (F.col("n_dropped") > 0)
    ).count()
    assert short_touched == 0


def test_span_spectrum_at_scale(spark, sf1_dir, smoke_record):
    """r6 spectrum at the x10 corpus: identical replicas make EVERY span
    at EVERY width a cross-document duplicate, so each width's dup_ppm
    must be exactly 1e6, dup positions must equal total positions, and
    the affected-doc count must equal the docs long enough to span —
    the same adversarial hottest-key shape as the scrub smoke, times
    four widths in one pass."""
    from etl_financial_report_spark.operators.quality import SPECTRUM_WIDTHS

    df, n = _run(
        spark,
        "dedup_span_spectrum",
        lambda: registry.all_queries()["dedup_span_spectrum"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == len(SPECTRUM_WIDTHS)
    rows = {r["span_w"]: r for r in df.collect()}
    lens = load_table(spark, sf1_dir, "documents").select(
        F.size(F.split("text", " ")).alias("nt")
    )
    for w in SPECTRUM_WIDTHS:
        r = rows[w]
        if r["n_spans"] == 0:
            continue
        assert r["dup_ppm"] == 1_000_000
        assert r["dup_positions"] == r["n_spans"]
        assert r["n_dup_spans"] == r["n_distinct_spans"]
        assert r["affected_docs"] == lens.where(F.col("nt") >= w).count()


def test_tokenize_ids_at_scale(spark, sf1_dir, smoke_record):
    from etl_financial_report_spark.operators.textops import MAX_SEQ_LEN

    df, n = _run(
        spark,
        "text_tokenize_ids",
        lambda: registry.all_queries()["text_tokenize_ids"].fn(spark, sf1_dir),
        smoke_record,
    )
    n_docs = load_table(spark, sf1_dir, "documents").count()
    assert n == n_docs
    # ids is the comma-serialized form (driver-canonical): element count
    # = commas + 1 (every doc has >= 1 token)
    assert df.where(F.size(F.split("ids", ",")) > MAX_SEQ_LEN).count() == 0
    # the 31-word synthetic vocabulary fits the head with room to spare:
    # nothing should map to UNK at any replication factor
    assert df.where(F.col("n_unk") > 0).count() == 0


def test_pack_token_sequences_at_scale(spark, sf1_dir, smoke_record):
    """Sequence packing at the x10 corpus: conservation (every doc's ids
    land in exactly one sequence; token totals add up) and the soft
    budget bound (a sequence never exceeds budget + one max-length doc)."""
    from etl_financial_report_spark.operators.sampling import SEQ_PACK_TOKENS
    from etl_financial_report_spark.operators.textops import MAX_SEQ_LEN

    df, n = _run(
        spark,
        "pack_token_sequences",
        lambda: registry.all_queries()["pack_token_sequences"].fn(spark, sf1_dir),
        smoke_record,
    )
    totals = df.agg(
        F.sum("n_segments").alias("segs"),
        F.sum("n_tokens").alias("toks"),
        F.max("n_tokens").alias("max_seq"),
        # packed_ids is the comma-serialized form (driver-canonical);
        # element count = commas + 1 (n_tokens >= 1 per sequence)
        F.sum(F.size(F.split("packed_ids", ","))).alias("packed"),
    ).collect()[0]
    n_docs = load_table(spark, sf1_dir, "documents").count()
    assert totals.segs == n_docs
    assert totals.packed == totals.toks
    assert totals.max_seq <= SEQ_PACK_TOKENS + MAX_SEQ_LEN


def test_ivfpq_topk_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "sim_ann_ivfpq_topk",
        lambda: registry.all_queries()["sim_ann_ivfpq_topk"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == 10
    # replicas of vec 0 share its cell AND its PQ codes exactly: the top
    # hit scores the full reconstruction similarity of vec 0 itself
    top = df.orderBy(F.desc("cosine_pq"), F.asc("vec_id")).limit(1).collect()[0]
    assert top.cosine_pq > 0.5


def test_sq8_topk_at_scale(spark, sf1_dir, smoke_record):
    df, n = _run(
        spark,
        "sim_ann_sq8_topk",
        lambda: registry.all_queries()["sim_ann_sq8_topk"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == 10
    # vec 0 has 9 identical replicas; SQ8 reconstruction error is far
    # below the 1-vs-replica cosine gap, so the top hit is essentially 1.0
    assert df.agg(F.max("cosine_sq8")).collect()[0][0] >= 0.99


def test_dedup_funnel_at_scale(spark, sf1_dir, smoke_record):
    """r6 funnel at the x10 corpus: stage 1 (exact, keep-min) must
    collapse the 10 identical replicas to exactly the corpus's distinct
    texts (>= 90% dropped), and because keep-min keeps the ORIGINAL ids,
    stages 2-4 must then report numbers IDENTICAL to the plain sf0.1
    funnel — the replica-collapse invariant."""
    df, n = _run(
        spark,
        "pipeline_dedup_funnel",
        lambda: registry.all_queries()["pipeline_dedup_funnel"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == 5  # r13: + the model_quality stage
    rows = {r["stage"]: r for r in df.collect()}
    docs = load_table(spark, sf1_dir, "documents")
    n_docs = docs.count()
    n_texts = docs.select("text").distinct().count()
    assert rows["exact"]["n_in"] == n_docs
    assert rows["exact"]["n_out"] == n_texts
    assert rows["exact"]["drop_ppm"] >= 900_000
    base = {
        r["stage"]: r
        for r in registry.all_queries()["pipeline_dedup_funnel"]
        .fn(spark, SRC_SF)
        .collect()
    }
    for stage in ("chunk_heavy", "lsh_near_dup"):
        assert rows[stage]["n_in"] == base[stage]["n_in"]
        assert rows[stage]["n_dropped"] == base[stage]["n_dropped"]
    # the semantic stage is NOT invariant: x10 occupancy engages the
    # sign-bucket split policy, and sub-bucketing can only REMOVE pairs
    # among the surviving original ids (never add) — so its drop count
    # is a nonzero subset of the base run's
    assert rows["semantic"]["n_in"] == base["semantic"]["n_in"]
    assert 0 < rows["semantic"]["n_dropped"] <= base["semantic"]["n_dropped"]
    # r13 model stage: chains off the semantic survivors and applies
    # margin > the swept bar (classifier retrained on the replica corpus,
    # so only chaining + bounds are content-stable here)
    m = rows["model_quality"]
    assert m["n_in"] == rows["semantic"]["n_out"]
    assert 0 <= m["n_dropped"] <= m["n_in"]
    assert m["n_out"] == m["n_in"] - m["n_dropped"]


def test_winnowing_pairs_at_scale(spark, sf1_dir, smoke_record):
    """r6 winnowing/MOSS pair report at the x10 corpus (added r7 so the
    x100 run has an x10 ratio base). Identical replicas share their FULL
    fingerprint set, so every surviving same-base pair must report
    set-jaccard exactly 1e6; the df cap (32) deliberately drops any
    fingerprint seen in >32 docs — base fingerprints with df >= 4 hit
    40+ at x10 — which is the boilerplate defense engaging, not a bug."""
    df, n = _run(
        spark,
        "dedup_winnowing_pairs",
        lambda: registry.all_queries()["dedup_winnowing_pairs"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n > 0
    same_base = df.where(
        (F.col("doc_a") % ID_OFFSET) == (F.col("doc_b") % ID_OFFSET)
    )
    n_same = same_base.count()
    assert n_same > 0
    assert same_base.where(F.col("jaccard_ppm") != 1_000_000).count() == 0


def test_domain_cap_at_scale(spark, sf1_dir, smoke_record):
    """x10 baseline for the per-source cap (the x100 twin asserts the
    cap binds everywhere; here it binds identically at 2.5k docs/source)."""
    from etl_financial_report_spark.operators.sampling import DOMAIN_CAP_DOCS

    df, n = _run(
        spark,
        "sample_domain_cap",
        lambda: registry.all_queries()["sample_domain_cap"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == load_table(spark, sf1_dir, "documents").count()
    kept = df.groupBy("source").agg(F.sum(F.col("keep").cast("long")).alias("k"))
    assert all(r.k == DOMAIN_CAP_DOCS for r in kept.collect())


def test_minhash_bbit_at_scale(spark, sf1_dir, smoke_record):
    """x10 baseline for the 1-bit sketch estimator table; identical
    replicas guarantee 1e6-ppm rows on all three estimators."""
    df, n = _run(
        spark,
        "dedup_minhash_bbit",
        lambda: registry.all_queries()["dedup_minhash_bbit"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n > 0
    ident = df.where((F.col("doc_a") % ID_OFFSET) == (F.col("doc_b") % ID_OFFSET))
    assert ident.count() > 0
    assert ident.where(F.col("exact_jaccard_ppm") != 1_000_000).count() == 0


def test_shard_checksums_at_scale(spark, sf1_dir, smoke_record):
    """x10 baseline for the XOR manifest: 16 rows, exact doc accounting."""
    from etl_financial_report_spark.operators.pipelines import N_MANIFEST_SHARDS

    df, n = _run(
        spark,
        "pipeline_shard_checksums",
        lambda: registry.all_queries()["pipeline_shard_checksums"].fn(spark, sf1_dir),
        smoke_record,
    )
    assert n == N_MANIFEST_SHARDS
    assert (
        df.agg(F.sum("n_docs")).collect()[0][0]
        == load_table(spark, sf1_dir, "documents").count()
    )


def test_unigram_train_at_scale(spark, sf1_dir, smoke_record):
    """x10 baseline for the unigram trainer — the vocabulary-bounded
    claim: everything after the word-frequency groupBy runs on the
    distinct-word table, so time should track the corpus READ, not the
    training arithmetic."""
    df, n = _run(
        spark,
        "text_unigram_train",
        lambda: registry.all_queries()["text_unigram_train"].fn(spark, sf1_dir),
        smoke_record,
    )
    rows = {r.piece: r for r in df.collect()}
    assert all(r.usage > 0 or r.is_char for r in rows.values())
    # chars always survive; multi-char pieces capped
    from etl_financial_report_spark.operators.unigram import UNIGRAM_KEEP_K

    assert sum(1 for p in rows if len(p) > 1) <= UNIGRAM_KEEP_K
