"""Bounded recovery inside capped LSH buckets (VERDICT r8 item 2).

The r8 skew smoke proved the hot-bucket cap bounds work, but capped
buckets emitted ZERO pairs — a NEAR-identical mega-cluster (same
boilerplate, varying timestamp) passes exact dedup and was then capped
out of every pair path, and dedup_incremental would verdict a new
member of a hot cluster 'unique'. The recovery path pairs every capped
bucket member with the bucket representative (min doc_id): O(bucket)
probes instead of O(bucket^2) pairs, so detection survives the cap.

These tests engineer a near-identical (NON-byte-identical) cluster and
shrink the cap so it binds at test scale, then assert end to end:
  * lsh_candidate_pairs emits the (rep, member) probes and NO
    intra-cluster non-rep pairs (work stays bounded);
  * the exact-jaccard verifier confirms the probes (the cluster is
    DETECTED, not silenced);
  * incremental_verdicts sends a new near-dup of the hot cluster to
    'near_dup' with the cluster anchor as match_id — the exact r8 gap.
"""

import pytest
from pyspark.sql import functions as F

from etl_financial_report_spark.operators.dedup import (
    VERIFY_JACCARD,
    _minhash_signature_of,
    build_corpus_dedup_index,
    distinct_tokens,
    exact_jaccard,
    incremental_verdicts,
    lsh_candidate_pairs,
)

#: near-identical cluster: shared 30-token boilerplate + one unique
#: trailing token per doc (the "varying timestamp" shape). jaccard
#: between any two members = 30/32 ~ 0.94 >= VERIFY_JACCARD, but no two
#: docs are byte-identical, so exact dedup passes all of them through.
BOILER = " ".join(f"tok{i}" for i in range(30))
CLUSTER = 40
CAP = 10


def _cluster_docs(spark, extra=()):
    rows = [(i, f"{BOILER} stamp{i}") for i in range(CLUSTER)]
    rows += list(extra)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_capped_bucket_emits_representative_probes(spark):
    docs = _cluster_docs(
        spark,
        extra=[(1000 + i, f"unrelated page {i} " + " ".join(f"w{i}_{j}" for j in range(20)))
               for i in range(5)],
    )
    pairs = lsh_candidate_pairs(_minhash_signature_of(docs), max_bucket=CAP).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # identical signatures -> one hot bucket per band, rep = doc 0:
    # every member appears exactly as (0, member), never member x member
    expected_probes = {(0, m) for m in range(1, CLUSTER)}
    assert expected_probes <= got
    non_rep_intra = {
        (a, b) for a, b in got if 0 < a < CLUSTER and 0 < b < CLUSTER
    }
    assert non_rep_intra == set()  # bounded: no quadratic residue
    # work bound: |pairs| is O(cluster), not C(cluster, 2)
    assert len(got) < 3 * CLUSTER

    # the probes VERIFY: exact jaccard over the probe pairs confirms the
    # cluster as near-dup of its anchor (detection, not silence)
    pdf = spark.createDataFrame(
        [(a, b) for a, b in sorted(expected_probes)], "doc_a long, doc_b long"
    )
    verified = exact_jaccard(pdf, distinct_tokens(docs))
    rows = verified.collect()
    assert len(rows) == CLUSTER - 1
    assert all(r.jaccard >= VERIFY_JACCARD for r in rows)


def test_uncapped_bucket_pairs_unchanged(spark):
    docs = _cluster_docs(spark)
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            _minhash_signature_of(docs), max_bucket=10_000
        ).collect()
    }
    # cap far above occupancy: plain all-pairs semantics
    assert capped == {(a, b) for a in range(CLUSTER) for b in range(CLUSTER) if a < b}


def test_incremental_near_dup_of_hot_cluster_is_detected(spark):
    corpus = _cluster_docs(spark)
    # the new doc: boilerplate + its own stamp — near-dup of the cluster,
    # byte-identical to no corpus doc
    batch = spark.createDataFrame(
        [(9999, f"{BOILER} stampNEW"), (8888, "totally different text entirely here")],
        "doc_id long, text string",
    )
    index = build_corpus_dedup_index(corpus, max_bucket=CAP)
    out = {r.doc_id: r for r in incremental_verdicts(batch, index).collect()}
    hot = out[9999]
    # the r8 gap: this used to come back 'unique' because the hot bucket
    # was capped out of the index; the hot_reps probe fixes it
    assert hot.verdict == "near_dup"
    assert hot.match_id == 0  # the cluster anchor (bucket min)
    assert hot.jaccard >= VERIFY_JACCARD
    assert out[8888].verdict == "unique"


def test_incremental_probe_volume_is_bounded(spark):
    """The probe path adds ONE candidate per (batch key, hot bucket) —
    never bucket-sized fan-out: candidates for a batch doc probing a
    50k-member hot bucket is 1 row, not 50k."""
    corpus = _cluster_docs(spark)
    batch = spark.createDataFrame(
        [(9999, f"{BOILER} stampNEW")], "doc_id long, text string"
    )
    index = build_corpus_dedup_index(corpus, max_bucket=CAP)
    bkeys = _minhash_signature_of(batch)
    from etl_financial_report_spark.operators.dedup import _band_keys

    probe = _band_keys(bkeys).join(
        index["hot_reps"], ["band_idx", "band_key"]
    )
    # 4 bands x 1 hot bucket each -> at most 4 probe rows, 1 after distinct
    assert probe.count() <= 4
    assert (
        probe.select(F.col("doc_id"), F.col("rep")).distinct().count() == 1
    )
