"""The cosine block-grid size B is a physical parameter only: any B >= 1
must produce the identical pair set (the grid changes which task computes a
pair, never whether it is computed). B is derived from the corpus row count
(parquet footer) + cluster parallelism by default — these tests pin both
the invariance and the derivation's two constraints. The last test pins
the per-label centroid on an empty embeddings table (modal dimension 0)."""

import math

from etl_financial_report_spark.io import load_table
from etl_financial_report_spark.operators.similarity import (
    COSINE_BLOCK_TARGET_ROWS,
    _derive_n_blocks,
    agg_embedding_centroid,
    cosine_pairs,
)

SF = "/root/testdata/sf0.001"


def _pairs(spark, n_blocks):
    rows = cosine_pairs(spark, SF, threshold=0.3, n_blocks=n_blocks).collect()
    return sorted((r.vec_a, r.vec_b, r.cosine) for r in rows)


def test_block_count_does_not_change_output(spark):
    assert _pairs(spark, 3) == _pairs(spark, 8)


def test_derived_blocks_cover_parallelism_and_memory(spark):
    b = _derive_n_blocks(spark, SF)
    parallelism = spark.sparkContext.defaultParallelism
    # grid must have enough groups to feed the cluster...
    assert b * (b + 1) // 2 >= parallelism
    # ...and the derivation must scale linearly once the corpus outgrows the
    # per-block memory target (synthetic check on the formula's memory term)
    from etl_financial_report_spark.operators import similarity

    n_huge = 10_000_000
    assert math.ceil(n_huge / COSINE_BLOCK_TARGET_ROWS) == 100
    assert similarity.COSINE_BLOCK_TARGET_ROWS * 2 * 64 * 8 < 512 * 1024 * 1024


def test_kmeans_train_multi_round_invariants(spark):
    """Every Lloyd round must keep the partition invariant — each vector
    assigned to exactly one surviving cell — and training must actually
    move: round-2 centroids differ from round-1's. (No fixed-point
    assertion: on near-uniform random vectors Lloyd's can wander for many
    rounds, and k-means admits 2-cycles in general — determinism per
    round count is what the operator guarantees, and what the oracle
    checks for n_rounds=1.)"""
    from etl_financial_report_spark.operators.similarity import kmeans_train_frame

    sf = "/root/testdata/sf0.001"
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    by_round = {}
    for r in (1, 2, 3):
        rows = kmeans_train_frame(spark, sf, n_rounds=r).collect()
        assert sum(x.n_members for x in rows) == n_vecs
        assert all(len(x.centroid_sum) == 64 for x in rows)
        by_round[r] = {(x.cell, tuple(x.centroid_sum)) for x in rows}
    assert by_round[1] != by_round[2]
    # rerun determinism at a fixed round count
    again = {
        (x.cell, tuple(x.centroid_sum))
        for x in kmeans_train_frame(spark, sf, n_rounds=2).collect()
    }
    assert again == by_round[2]


def test_ivfpq_refine_recall_ordering(spark):
    """VERDICT r4 item 5 done-criterion: the refined composition
    (residual codebooks + nprobe>1 shortlist + exact re-rank) must recall
    measurably more than the plain IVF-PQ composition at the same index
    bit budget — and never less than the unrefined residual pass it
    re-ranks. Asserted on the eval artifact itself so a regression fails
    loudly instead of shipping as a silent recall cut."""
    from etl_financial_report_spark.operators.similarity import (
        sim_ann_ivfpq_recall_eval,
    )

    row = sim_ann_ivfpq_recall_eval(spark, "/root/testdata/sf0.01").first()
    assert row.n_true == 10
    assert row.recall_at_10_refined > row.recall_at_10_plain
    assert row.recall_at_10_refined >= row.recall_at_10_residual


def test_ivfpq_batch_recall_ordering(spark):
    """VERDICT r5 item 3 done-criterion: the batch eval (16 queries, 160
    truth pairs — 0.00625 recall granularity vs the single-query 0.1)
    must show the refine stage converting candidate coverage into recall
    ON THE BATCH MEAN, and per-query bookkeeping must be consistent."""
    from etl_financial_report_spark.operators.similarity import (
        SIM_EVAL_NQ,
        sim_ann_ivfpq_batch_recall_eval,
    )

    row = sim_ann_ivfpq_batch_recall_eval(spark, "/root/testdata/sf0.01").first()
    assert row.n_queries == SIM_EVAL_NQ
    assert row.n_true == SIM_EVAL_NQ * 10
    assert row.mean_recall_at_10_refined > row.mean_recall_at_10_plain
    assert row.mean_recall_at_10_refined > row.mean_recall_at_10_residual
    assert 0 < row.n_overlap_refined <= row.n_true
    assert 0 <= row.worst_recall_at_10_refined <= row.mean_recall_at_10_refined


def test_mrl_prefix_recall_curve_properties(spark):
    """The truncated-dim curve's structural guarantees: the full-width
    row recalls exactly 1.0 by construction, every row retrieves a full
    top-10, and recall is weakly informative (some prefix below full
    width loses recall on real data — otherwise the sweep says nothing)."""
    from etl_financial_report_spark import registry
    from etl_financial_report_spark.operators.similarity import MRL_PREFIX_DIMS

    rows = {
        r.prefix_dim: r
        for r in registry.all_queries()["sim_mrl_prefix_recall"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert set(rows) == set(MRL_PREFIX_DIMS)
    full = max(MRL_PREFIX_DIMS)
    assert rows[full].recall_ppm == 1_000_000
    assert rows[full].n_overlap == 10
    assert all(r.n_retrieved == 10 for r in rows.values())
    assert any(rows[d].recall_ppm < 1_000_000 for d in MRL_PREFIX_DIMS if d != full)


def test_mrl_funnel_dominates_raw_prefix_ranking(spark):
    """The funnel's provable invariant: every truth member the prefix
    shortlist captures re-ranks into the final 10 (it is globally top-10
    by the exact cosine the re-rank uses), so funnel recall >= the raw
    prefix@10 recall at the same prefix width — at EVERY corpus size,
    trained embeddings or not."""
    from etl_financial_report_spark import registry
    from etl_financial_report_spark.operators.similarity import MRL_FUNNEL_DIM

    q = registry.all_queries()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        funnel = q["sim_mrl_funnel_retrieval"].fn(spark, sf).first()
        prefix = {
            r.prefix_dim: r for r in q["sim_mrl_prefix_recall"].fn(spark, sf).collect()
        }
        assert funnel.n_retrieved == 10 and funnel.n_true == 10
        assert funnel.recall_ppm >= prefix[MRL_FUNNEL_DIM].recall_ppm
    # on the sf0.01 corpus the composition strictly beats raw prefix@10
    f = q["sim_mrl_funnel_retrieval"].fn(spark, "/root/testdata/sf0.01").first()
    p = {
        r.prefix_dim: r
        for r in q["sim_mrl_prefix_recall"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert f.recall_ppm > p[MRL_FUNNEL_DIM].recall_ppm


def test_embedding_centroid_on_empty_embeddings(spark, tmp_path):
    """An empty embeddings table has modal dimension 0: the centroid
    query returns zero rows with the schema it returns on real data,
    without generating a per-dim aggregate over no dimensions."""
    load_table(spark, SF, "embeddings").limit(0).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = agg_embedding_centroid(spark, str(tmp_path))
    assert out.collect() == []
    assert out.dtypes == agg_embedding_centroid(spark, SF).dtypes


#: the queries whose query vectors come from the gated id range below
#: SIM_EVAL_NQ — the single-query (vector 0) IVF/PQ retrievers and
#: evals, and the batch evals
_DEGENERATE_QUERY_OPS = (
    "sim_ann_ivf",
    "sim_ann_ivf_trained",
    "sim_ann_pq_topk",
    "sim_ann_ivfpq_topk",
    "sim_ann_ivfpq_residual_topk",
    "sim_ann_ivfpq_refine_topk",
    "sim_ann_ivf_nprobe_sweep",
    "sim_ann_recall_eval",
    "sim_ann_sq8_recall_eval",
    "sim_ann_pq_recall_eval",
    "sim_ann_ivfpq_recall_eval",
    "sim_ann_batch_recall_eval",
    "sim_ann_ivfpq_batch_recall_eval",
    "sim_retrieval_mrr_eval",
)


def test_degenerate_query_vectors_match_oracles(spark, tmp_path):
    """A query vector the conformance gate drops is no query, in the
    engine and in the oracle alike. Vector 0 is all zeros and vector 3
    (inside the SIM_EVAL_NQ batch block) has the wrong dimension: the
    single-query retrievers return no rows, the single-query evals
    report an empty truth with a NULL recall instead of an ANSI
    DIVIDE_BY_ZERO, and the batch evals count only the queries that
    pass the gate. (The hostile sweep appends its
    degenerate rows above the dense id range, so it never hits this.)"""
    import os
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_financial_report_spark import registry
    from etl_financial_report_spark.io import TABLES
    from etl_financial_report_spark.operators.similarity import SIM_EVAL_NQ

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from check_parity import duck_con, normalize

    assert 3 < SIM_EVAL_NQ
    # one parquet FILE like the source corpus: the oracle views read a
    # file path, and Spark would write a directory
    emb = pq.read_table(f"{SF}/embeddings.parquet")
    rows = emb.to_pylist()
    for r in rows:
        if r["vec_id"] == 0:
            r["embedding"] = [0.0] * len(r["embedding"])
        elif r["vec_id"] == 3:
            r["embedding"] = r["embedding"][:8]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=emb.schema), tmp_path / "embeddings.parquet"
    )
    for name in TABLES:
        if name != "embeddings":
            os.symlink(f"{SF}/{name}.parquet", tmp_path / f"{name}.parquet")

    con = duck_con(str(tmp_path))
    queries = registry.all_queries()
    for name in _DEGENERATE_QUERY_OPS:
        q = queries[name]
        got = normalize(q.fn(spark, str(tmp_path)).toPandas())
        assert got == normalize(con.sql(q.oracle).df()), name
    single = queries["sim_ann_recall_eval"].fn(spark, str(tmp_path)).collect()[0]
    assert (single.n_true, single.recall_at_10) == (0, None)
    batch = queries["sim_ann_batch_recall_eval"].fn(spark, str(tmp_path)).collect()[0]
    assert batch.n_queries == SIM_EVAL_NQ - 2
