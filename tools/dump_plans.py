"""Dump formatted physical plans of headline queries to PLANS.md.

Usage: python tools/dump_plans.py [--sf-dir /root/testdata/sf0.1]

The point of the artifact: show that every headline operator compiles to
the plan you would hand-pick at 100 TB — filters pushed to the parquet
scan, ReadSchema pruned to the referenced columns, small sides broadcast,
aggregates split partial/final, no stray shuffles.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_financial_report_spark import io as _io  # noqa: E402
from etl_financial_report_spark import registry  # noqa: E402
from etl_financial_report_spark.plans import formatted_plan  # noqa: E402
from etl_financial_report_spark.session import get_spark  # noqa: E402

# dump the REAL build plans, not memoized checkpoint scans (io.MEMO_ENABLED)
_io.MEMO_ENABLED = False

HEADLINERS = {
    "flagship_statement_report": (
        "Date filter pushed into the orders scan; lineitem pruned to 4 of 16 "
        "columns; orders side broadcast; partial+final HashAggregate."
    ),
    "j1_contains_join": (
        "Contains-join planned as equi hash join on the lang key with the "
        "contains() residual; keyword dim broadcast (never shuffles the corpus)."
    ),
    "j3_anti_join": (
        "Idempotent-ingest guard: left-anti BroadcastHashJoin; existing-keys "
        "side reduced to distinct keys before broadcast."
    ),
    "range_join_events": (
        "Interval join bucketized to an equi join on (user_id, time bucket) "
        "with 2-bucket probe fan-out + exact residual filter — hash join, not "
        "BroadcastNestedLoop."
    ),
    "asof_join_events": (
        "As-of join as union + keyed window carry-forward: one shuffle on "
        "user_id, single window pass, no range explosion."
    ),
    "dedup_minhash_lsh_pairs": (
        "MinHash-LSH: map-side partial min() aggregation computes signatures "
        "before the shuffle; band self-join is a hash join on integer band keys; "
        "since r8 a two-phase LSH_MAX_BUCKET hot-bucket cap (count + left-anti) "
        "guards the self-join against power-law mega-clusters."
    ),
    "agg_salted_skew": (
        "Two-phase salted aggregation: (key, salt) pre-aggregate spreads hot "
        "keys across reducers; merge phase is tiny."
    ),
    "tpch_q5_local_supplier_volume": (
        "6-way snowflake: every dim side broadcast (orders/customer included "
        "at this SF), lineitem streams through all five BroadcastHashJoins "
        "and shuffles only for the final group-by."
    ),
    "tpch_q8_market_share": (
        "7 joins, zero fact shuffles: part/supplier/customer/nation×2/region "
        "all build sides, conditional-sum ratio split partial/final."
    ),
    "pack_shards": (
        "Two-level distributed prefix sum: per-group running-sum window "
        "(partitioned by doc_id DIV G) + tiny per-group offset window "
        "broadcast back — no single reducer ever sorts the corpus."
    ),
    "tpch_q21_sole_blame_supplier": (
        "EXISTS/NOT-EXISTS double correlation decorrelated to one per-order "
        "distinct-supplier aggregate equi-joined back to the fact — no "
        "broadcast of the fact table, shuffles co-partitioned on l_orderkey."
    ),
    "tpch_q2_min_cost_supplier": (
        "Part filter broadcast-joined BELOW the price-list aggregate so the "
        "shuffle carries only qualifying parts; correlated min-per-part as a "
        "window over the aggregate (one evaluation of the subtree)."
    ),
    "text_token_rarity": (
        "Corpus-frequency scoring with a BOUNDED vocabulary: only the top-K "
        "most frequent tokens (TakeOrderedAndProject) ride the broadcast "
        "back onto the token stream, tail tokens default to rare — the big "
        "side never shuffles on token and the broadcast stays capped at any "
        "corpus size; per-doc rollup is the only wide exchange."
    ),
    "dedup_lsh_verified": (
        "End-to-end scale dedup: minhash banding makes candidates (equi-join "
        "on band keys), then the exact token-jaccard verdict joins the token "
        "stream THROUGH the pair frame — every token join keyed (doc_id, w), "
        "the token stream never self-joins."
    ),
    "text_dup_span_frac": (
        "Cross-doc duplicate-span scoring with an unbounded span space: "
        "two-phase groupBy(sh)+join (r4) — partial aggregation absorbs hot "
        "boilerplate spans, the probe join is AQE-skew-splittable, and "
        "spans travel as 16-byte md5 keys."
    ),
    "sim_bucketed_cosine_pairs": (
        "SemDeDup shape: one FlatMapGroupsInPandas matmul per sign-bit LSH "
        "bucket — the only shuffle keys the bucket id; no all-pairs join "
        "anywhere."
    ),
    "pipeline_keep_manifest": (
        "Per-doc keep manifest: two-phase canonical-hash min (r4), quality "
        "gate expressions fused into the scan stage, benchmark-gram "
        "equi-join, one doc_id stitch join — four gates, one plan, no "
        "cartesian."
    ),
    "j_salted_skew_join": (
        "Manual skew-join split: fact side salted, dim side exploded per "
        "salt, SortMergeJoin on (key, salt) — one hot key spreads over "
        "N_SALT reducers; result-identical to the plain join."
    ),
    "funnel_conversion": (
        "Per-user funnel state collapses to 3 timestamps in the partial "
        "aggregate — the map side reduces the fact table before the "
        "exchange; no per-user event sort anywhere."
    ),
    "ts_gap_fill": (
        "Dense time spine minted executor-side (sequence + explode from "
        "per-user bounds); spine build, left join, and running-total window "
        "all share the user_id shuffle."
    ),
    "scd2_point_in_time": (
        "Point-in-time SCD2 resolution: history side broadcast, "
        "BroadcastHashJoin on the custkey equi-key with the validity "
        "interval as a post-join condition — the BETWEEN join that "
        "degrades to a nested loop when written naively."
    ),
    "ts_rollup_merge": (
        "Continuous-aggregate merge: hourly-rollup branch and raw-tail "
        "branch both pre-aggregate map-side before the union; the final "
        "day-level merge is a re-aggregation of partials, so the exchange "
        "carries bucket rows, not events. The two BroadcastNestedLoopJoins "
        "are the 1-row data-derived cutoff broadcast onto each branch — a "
        "scalar cross join whose build side is literally one row (same "
        "shape as text_token_rarity's corpus-size scalar)."
    ),
    "dedup_incremental": (
        "Incremental ingest dedup (r4): batch md5 probes the collapsed "
        "corpus hash index; batch band keys equi-join the corpus band "
        "index (candidates scale with |batch|); pair-driven jaccard "
        "verify; struct-max best match. Corpus never self-joins."
    ),
    "dedup_semantic_keep_list": (
        "SemDeDup keep manifest (r4): bucketed exact cosine pairs above "
        "the bar -> min-label components -> two-phase cluster stats."
    ),
    "sim_ann_kmeans_train": (
        "Deterministic Lloyd round (r4): broadcast centroid assignment, "
        "exact int64 per-dim member sums via posexplode+groupBy — no "
        "float averaging, no corpus-sized window."
    ),
    "sample_quality_budget": (
        "Budget-capped selection (r4): banded two-level running sum — "
        "parallel in-band windows (derived band count keeps tasks ~1M rows) + broadcast prefix of the tiny band totals."
    ),
    "multimodal_frame_dedup": (
        "Frame-fingerprint media near-dup (r4): discriminative-key df-cap "
        "before pairing; binary payload never shuffles, only 12-byte keys."
    ),
    "dedup_simhash64_hamming": (
        "Manku candidate tables (r4): one explode into 20 packed 3-of-6-"
        "sub-block keys, two-phase hot-bucket cap (HashAggregate + left-anti, "
        "no window over the content key), equi self-join on (tbl, key), "
        "exact hamming only on collisions."
    ),
    "text_inverted_index": (
        "Posting-list build with bounded state: document frequency via "
        "groupBy (partial aggs), capped postings via the salted two-level "
        "top-k — a stopword's postings rank in n_salt parallel cells — and "
        "collect_list never buffers more than the cap."
    ),
    "w_interval_sweep": (
        "Sweep-line concurrency counting: +1/-1 deltas pre-aggregated per "
        "day (map-side combine collapses the fact table), one cumulative "
        "window over the tiny per-day frame — no interval-overlap join."
    ),
    "dedup_span_scrub": (
        "Exact-substring scrub (r4): two-phase cross-doc span counts "
        "(partial COUNT DISTINCT absorbs hot boilerplate), per-doc start "
        "lists bounded by the doc's own spans, token removal array-native "
        "in one projection — shuffles carry md5 keys + integer starts."
    ),
    "sim_ann_sq8_topk": (
        "SQ8 compressed ANN scan (r4): 64-row min/max codebook and the "
        "query row are the ONLY broadcasts; the corpus streams through one "
        "projection (encode + integer ADC dot) into TakeOrderedAndProject "
        "— no shuffle of the big side at all."
    ),
    "layout_zorder_key": (
        "Morton key minting (r4): 1-row min/max broadcast, 32 bit-"
        "interleave terms fused into whole-stage codegen — zero shuffles; "
        "write_zordered adds one range exchange on the key."
    ),
    "text_bpe_merges": (
        "BPE training rounds (r4): corpus touched once (word-frequency "
        "groupBy); every merge round runs on the vocabulary-bounded word "
        "table — pair counts partial-aggregate, argmax is TakeOrdered-1 "
        "broadcast back as the next round's literal replace."
    ),
    "text_tokenize_ids": (
        "Tokenizer encoding (r4): vocab head via TakeOrdered-K, dense ids "
        "assigned on the <=K-row head, broadcast joined onto the token "
        "stream (the corpus never shuffles on token); per-doc id arrays "
        "rebuilt in an entity-bounded doc_id aggregate."
    ),
    "sim_ann_ivfpq_topk": (
        "IVF-PQ (r4): every broadcast in this plan is K-bounded (seed "
        "centroids, trained cells, PQ codebooks, the query row); the "
        "corpus streams through cell assignment + code assignment, the "
        "candidate prune lands BEFORE the ADC arithmetic, and the top-k "
        "is a TakeOrderedAndProject."
    ),
    "dedup_banding_sweep": (
        "Banding sweep (r4): ground truth is one bounded-slice all-pairs "
        "pass; all four (b,r) configs evaluate as boolean expressions in "
        "ONE aggregate over the truth-pair frame — no per-config "
        "self-joins."
    ),
    "sim_bucketed_cosine_pairs": (
        "Collapse+split+probe pairs (r10): one content-keyed groupBy "
        "folds exact-identical vectors to representatives (star edges "
        "re-attach members), the <=16^level prefix-occupancy aggregates "
        "broadcast the recursive split decision back onto the distinct "
        "vectors, then ONE applyInPandas keyed on the final bucket id "
        "runs the live-bucket matmul (per-task memory O(bucket x tile)) "
        "while hot buckets emit bounded representative probes — no "
        "quadratic path at any occupancy."
    ),
    "sim_ann_ivfpq_residual_topk": (
        "Residual IVF-PQ (r5): quantized coarse centroids, residual "
        "stream, and residual-PQ codebooks are all K-bounded broadcasts; "
        "the nprobe candidate prune lands before the ADC joins; the "
        "fixed-order double combination runs in one projection."
    ),
    "text_cms_heavy_hitters": (
        "Count-min sketch (r5): the token stream partial-aggregates to "
        "the distinct-token frame, explodes to d x w counter updates "
        "(map-side combinable), and the <=1024-row sketch broadcasts "
        "against the bounded top-K probe set."
    ),
    "dedup_kmv_overlap_sketch": (
        "KMV overlap (r5): per-half bottom-k's are TakeOrdered (never a "
        "global sort); every estimate input is a 1-row aggregate "
        "assembled by scalar broadcasts into the single output row."
    ),
    "dedup_symspell_variants": (
        "SymSpell variants (r5): vocabulary-bounded end to end — token "
        "stream aggregates once, deletion keys drive an equi-join, and "
        "the exact levenshtein verify runs on the candidate pairs only."
    ),
    "dedup_bloom_prefilter": (
        "Bloom prefilter (r5): the ~KB set-bit frame broadcasts against "
        "the batch probe stream; only 'maybe' survivors reach the exact "
        "membership join — the runtime-filter pattern, explicit."
    ),
    "agg_key_skew_profile": (
        "Key-skew profile (r5): one partially-aggregated count-of-counts "
        "pass; the heavy-key head is a bounded TakeOrdered broadcast onto "
        "the 1-row distribution stats."
    ),
    "dedup_kmv_source_matrix": (
        "KMV source matrix (r5): per-source bottom-k via the skew-safe "
        "two-level topk; every pairwise estimate derives from K-bounded "
        "sketch frames — the corpus is read once."
    ),
    "dedup_chunk_keep_first": (
        "Chunk keep-first dedup (r6): two-phase groupBy(md5).min over one "
        "packed position integer, kept text rebuilt doc-locally — the "
        "shuffle carries 16-byte hashes + one long, never text."
    ),
    "dedup_winnowing_pairs": (
        "Winnowing/MOSS pair report (r6): fingerprint frame materialized "
        "BEFORE the explode so Catalyst cannot inline the nested gram "
        "lambdas per reference site (measured 137s -> 3s); boilerplate "
        "fingerprints df-capped before the self-join."
    ),
    "dedup_span_spectrum": (
        "Duplication-length spectrum (r6): all four widths union into ONE "
        "span stream before the explode — one token pass; the "
        "(w, sh, doc_id) -> (w, sh) two-phase cascade keeps hot "
        "boilerplate spans map-side combined."
    ),
    "sim_centroid_classifier": (
        "Nearest-centroid eval (r6): label centroids as exact int64 "
        "per-dim sums (two shuffles), then ONE broadcast of the "
        "O(labels) centroid block scores the corpus — no corpus-side "
        "shuffle in the scoring pass."
    ),
    "sim_hybrid_retrieval": (
        "Hybrid retrieval (r6): keyword filter BEFORE the id equi-join "
        "(column-pruned text scan), 1-row query vector broadcast, "
        "TakeOrdered(10) — no global sort, join co-partitionable by id."
    ),
    "pipeline_dedup_funnel": (
        "Dedup removal funnel (r6): four stages cheapest-first over "
        "checkpointed survivor frames; every count is a 1-row aggregate "
        "crossJoined into the 4-row artifact — no driver-side counting."
    ),
    "sim_ann_ivf_nprobe_sweep": (
        "IVF nprobe sweep (r6): one shared scoring pass (checkpointed "
        "candidate frame); each swept operating point is a filter + "
        "bounded per-query re-rank, not a fresh corpus scan."
    ),
    "text_pii_report": (
        "PII audit (r7): pure projection over the scan — zero exchanges, "
        "no joins; at 100 TB the cost is the read itself (pinned in "
        "tests/test_plans.py)."
    ),
    "pipeline_shard_checksums": (
        "Shard checksum manifest (r7): exactly ONE exchange with "
        "partial_bit_xor map-side — the commutative-checksum design; an "
        "ordered-concat digest would need a single-reducer shard sort."
    ),
    "pipeline_manifest_drift": (
        "Manifest drift (r7): two aggregate passes + a broadcast join of "
        "the O(shards)-row manifests — the gate that keeps the row-level "
        "snapshot diff off unchanged shards."
    ),
    "sample_domain_cap": (
        "Per-source doc cap (r7): salted two-level top-k head (no "
        "unbounded per-domain window) + broadcast per-source totals; "
        "drop rows rejoin with NULL rank."
    ),
    "multimodal_dimensions": (
        "Header dimension parsing is one map-only whole-stage-codegen "
        "projection over the scan — no exchange, no join, no Python; the "
        "100 TB metadata pass costs exactly the read."
    ),
    "text_unigram_encode": (
        "Unigram encode: the corpus stream's ONLY shuffle-adjacent stage is a "
        "BroadcastHashJoin against the trained per-word segmentations; the "
        "Viterbi DP itself ran as expressions over the vocabulary-bounded "
        "distinct-word table."
    ),
    "text_quality_classifier": (
        "Model-based quality gate, scoring pass: the trained weight table "
        "(<= QC_NF + 6 rows) BROADCASTS into the hashed-count stream; the "
        "margin is one partial+final doc_id HashAggregate over the DECIMAL "
        "products; token counts and shape-indicator features are "
        "projections fused into the documents scan stage (the plan is one "
        "corpus pass + map-side join — training cost lives in the "
        "persisted weight artifact, not in this plan)."
    ),
    "multimodal_routing_manifest": (
        "Decode routing + resolution gates stay fused in the same map-only "
        "codegen projection as the dimension parse — the decoder-sizing pass "
        "adds zero plan structure."
    ),
    "sample_doremi_mixture": (
        "r13 DoReMi consumer: the |sources|-row quota table (derived from "
        "the fixed point by pure integer arithmetic over 1-row max "
        "broadcasts) BROADCASTS into one corpus pass; the per-doc gate is "
        "a fused hash comparison, the per-source rollup one partial+final "
        "HashAggregate, the realized-share division a 1-row total "
        "broadcast. Margins ride the persisted scored artifact — no "
        "retrain, no rescore in this plan (audited memo-off, so the "
        "training chain shows here; warm sessions read the store)."
    ),
    "text_lang_id_train": (
        "r13 trained lang-id, scoring pass: the per-class weight table "
        "(<= |classes| x (LID_NF + 1) rows) BROADCASTS into the "
        "hashed-count stream; per-(doc, class) margins are one "
        "partial+final HashAggregate over DECIMAL products and the argmax "
        "is a second two-phase min(struct) aggregate — never a "
        "corpus-keyed window (audited memo-off, so the unrolled training "
        "rounds show here; warm sessions read the persisted weights)."
    ),
    "text_quality_gate_bar": (
        "r13 model-gate operating point: every aggregate under the "
        "selection is held-out-slice sized or smaller — the rank probe is "
        "the banded two-level prefix sum (per-band row_numbers + a "
        "<= 64-row offset window), the 9 decile bars and the final qbar "
        "are 1-row/9-row broadcasts. Nothing corpus-sized shuffles."
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{args.sf_dir}`. Checked-in so the",
        "plan shape is reviewable without running Spark; regenerate after planner-",
        "relevant changes.",
        "",
    ]
    for name, why in HEADLINERS.items():
        q = registry.all_queries().get(name)
        if q is None:
            continue
        plan = formatted_plan(q.fn(spark, args.sf_dir))
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]

    with open(Path(__file__).resolve().parents[1] / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
