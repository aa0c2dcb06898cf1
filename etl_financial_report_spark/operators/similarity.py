"""Similarity search over the embeddings table (north-star surface,
SURVEY.md §2.10): brute-force cosine top-k as the correctness baseline
and a sign-bit LSH-bucketed variant as the scale path.

All cosine math runs in quantized integer space (functions/vectors.py):
exact int64 dot products -> deterministic IEEE double cosine, so results
are bit-identical across Spark and the DuckDB oracle.

At 100 TB: the pairwise form only ever runs on LSH/IVF candidate sets;
the brute-force form is a broadcast of the (tiny) query set against a
partitioned scan of the corpus — no shuffle of the big side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.vectors import (
    QUANT_SCALE,
    QUANTIZE_SQL,
    cosine_q,
    dot_q,
    norm_sq_q,
    quantize,
    sign_bucket,
    sign_bucket_sql,
)
from ..functions.hashing import hash32, hash32_sql
from ..io import driver_frame, load_table, table_row_count, table_size_bytes
from ..session import parse_bytes_conf
from ..registry import register

#: the conformance gate every similarity consumer reads through (engine
#: twin: _quantized). Real crawl sidecars deliver malformed vectors —
#: wrong dimension (a retrained encoder's rows mixed in) and all-zero /
#: sub-quantization-scale rows (failed encodes) — and under ANSI even a
#: DOUBLE division by zero THROWS, so one zero-norm vector would kill
#: every cosine query in the suite (found by tests/test_hostile_corpus).
#: Policy: vectors must match the corpus's MODAL dimension (ties break
#: to the larger dim) and carry a nonzero quantized norm; nonconforming
#: rows never reach the math (they still verdict as singletons in the
#: keep-list, whose universe is the raw table). On conforming corpora
#: (all driver SFs, every smoke) the gate is an identity.
def q_cte(pred: str = "") -> str:
    """The gated-quantized CTE chain (qd/q/ex/norms), optionally with an
    extra predicate on ``q`` (e.g. a survivor-set membership filter —
    the dedup funnel re-roots its semantic certificate on stage-3
    survivors this way, ADVICE r10). ``_Q_CTE`` is the unfiltered
    default every standalone oracle uses."""
    return f"""
qd AS (
    SELECT len(embedding) AS d FROM embeddings
    GROUP BY 1 ORDER BY COUNT(*) DESC, 1 DESC LIMIT 1
), q AS MATERIALIZED (
    SELECT vec_id, label, {QUANTIZE_SQL} AS qe
    FROM embeddings, qd
    WHERE len(embedding) = qd.d
      AND len(list_filter(embedding,
              x -> abs(CAST(x AS DOUBLE) * {QUANT_SCALE}) >= 0.5)) > 0
      {pred}
), ex AS MATERIALIZED (
    SELECT vec_id, i, qe[i] AS v
    FROM q, unnest(generate_series(1, len(qe))) t(i)
), norms AS MATERIALIZED (
    SELECT vec_id, SUM(v * v) AS nsq FROM ex GROUP BY vec_id
)
"""


_Q_CTE = q_cte()


#: modal embedding dimension per (sf_dir, embeddings mtime): the first
#: sim query of a process pays one tiny size-histogram job (the io
#: footer-schema cache pattern — on a cluster the catalog's column
#: statistics serve this role); every later construction reads the
#: cached int and the conformance gate stays a PURE pushable row filter
#: with zero extra plan subtrees (an in-plan broadcast variant measured
#: +0.1-0.9 s per sim query from per-reference policy jobs).
_MODAL_DIM_CACHE: dict[tuple, int] = {}


def _modal_dim(spark: SparkSession, sf_dir: str) -> int:
    import os

    from ..io import table_path

    path = table_path(sf_dir, "embeddings")
    try:
        mt = os.stat(path).st_mtime_ns
    except OSError:
        mt = 0
    key = (sf_dir, mt)
    d = _MODAL_DIM_CACHE.get(key)
    if d is None:
        emb = load_table(spark, sf_dir, "embeddings")
        row = (
            emb.groupBy(F.size("embedding").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.desc("d"))
            .limit(1)
            .collect()
        )
        d = row[0]["d"] if row else 0
        _MODAL_DIM_CACHE[key] = d
    return d


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized embeddings behind the conformance gate (_Q_CTE's doc):
    modal-dimension vectors with a nonzero quantized norm only. Under
    ANSI a single zero-norm vector would otherwise throw DIVIDE_BY_ZERO
    out of every cosine, and a wrong-dim vector breaks the matmul /
    zip_with math — both are data bugs that must degrade to exclusion,
    never kill the job (tests/test_hostile_corpus.py). The whole gate
    reads only the RAW embedding column: modal dim compares the vector
    LENGTH against the memoized corpus value (quantize preserves
    length), and the nonzero-norm test is |x| * scale >= 0.5 on raw
    floats — bit-exact equivalent of "some quantized element is nonzero"
    under HALF_UP rounding (round(y) >= 1 <=> y >= 0.5) — so the
    quantize transform stays a pure projection Catalyst can prune or
    defer per consumer."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = _modal_dim(spark, sf_dir)
    return (
        emb.where(
            (F.size("embedding") == F.lit(d))
            & F.exists(
                "embedding",
                lambda x: F.abs(x.cast("double") * QUANT_SCALE) >= 0.5,
            )
        )
        .select("vec_id", "label", quantize(F.col("embedding")).alias("qe"))
        .withColumn("nsq", norm_sq_q(F.col("qe")))
    )


# ------------------------------------------------ exact retrieval kernel
#
# One truth, many retrievers: every ANN path (LSH, IVF, SQ8, PQ, IVF-PQ)
# is scored against the same exact top-k — vector 0 (or the query block
# vec_id < nq) broadcast against the gated corpus, exact quantized
# cosine, total order (cosine desc, vec_id). The helpers below are that
# truth's one engine copy; _TRUTH_CTES and _batch_truth_ctes are its one
# oracle copy.


def _query_block(
    frame: DataFrame, nq: int | None = None, cols: tuple = ("qe", "nsq")
) -> DataFrame:
    """The broadcast side of an exact scan: ``cols`` renamed q_<col>, of
    vector 0 alone (``nq`` None, the single-query shape) or of the block
    vec_id < nq keyed by q_id. Reads ``frame`` as given, so a query the
    conformance gate dropped is simply absent."""
    sel = [F.col(c).alias(f"q_{c}") for c in cols]
    if nq is None:
        return frame.where(F.col("vec_id") == 0).select(*sel)
    return frame.where(F.col("vec_id") < nq).select(F.col("vec_id").alias("q_id"), *sel)


def _exact_cosine() -> F.Column:
    """Exact quantized cosine of a corpus row (qe, nsq) and its query."""
    return cosine_q(dot_q(F.col("qe"), F.col("q_qe")), F.col("nsq"), F.col("q_nsq"))


def _exact_scored(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact quantized cosine of every corpus row (vec_id, qe, nsq)
    against a broadcast :func:`_query_block`: (vec_id, cosine) for the
    single query, (q_id, vec_id, cosine) for a block."""
    keys = ["q_id", "vec_id"] if "q_id" in queries.columns else ["vec_id"]
    return corpus.crossJoin(F.broadcast(queries)).select(
        *keys, _exact_cosine().alias("cosine")
    )


def _per_query(score: str = "cosine") -> WindowSpec:
    """Each query's rows in retrieval order: ``score`` desc, vec_id."""
    return Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("vec_id"))


def _rank_le(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """(q_id, vec_id) of each query's ``k`` best rows of ``scored``."""
    return (
        scored.withColumn("rk", F.row_number().over(_per_query(score)))
        .where(F.col("rk") <= k)
        .select("q_id", "vec_id")
    )


def _overlap_per_query(truth: DataFrame, retrieved: DataFrame, name: str) -> DataFrame:
    """(q_id, ``name``): how many of each query's truth rows ``retrieved``
    holds; a query with none is absent (callers left-join their block)."""
    return (
        truth.join(retrieved, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias(name))
    )


def _recall(n_overlap: str) -> F.Column:
    """``n_overlap`` / n_true as a double. NULL, not an ANSI
    DIVIDE_BY_ZERO, when the truth is empty (query vector 0 failed the
    conformance gate) — the oracles' NULL."""
    return F.try_divide(F.col(n_overlap).cast("double"), F.col("n_true"))


def _overlap_counts(truth: DataFrame, retrieved: DataFrame) -> DataFrame:
    """One row (n_true, n_retrieved, n_overlap) of two vec_id lists."""
    overlap = truth.join(retrieved, "vec_id")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .join(F.broadcast(retrieved.agg(F.count(F.lit(1)).alias("n_retrieved"))))
        .join(F.broadcast(overlap.agg(F.count(F.lit(1)).alias("n_overlap"))))
    )


def _recall_at_10(spark: SparkSession, sf_dir: str, retrieved: DataFrame) -> DataFrame:
    """Recall@10 of one single-query retriever's top-10 against the
    exact top-10 (sim_ann_topk): n_true, n_retrieved, n_overlap and
    recall_at_10."""
    truth = sim_ann_topk(spark, sf_dir).select("vec_id")
    return _overlap_counts(truth, retrieved.select("vec_id")).select(
        "n_true", "n_retrieved", "n_overlap", _recall("n_overlap").alias("recall_at_10")
    )


#: the oracle's exact single-query truth over the gated corpus: vector
#: 0's integer dots (qdot), cosines (qcos) and top-10 (true_topk). A
#: retriever oracle ranks its candidates' qcos rows (_cand_topk_sql)
_TRUTH_CTES = """
qdot AS (
    SELECT c.vec_id, SUM(c.v * qq.v) AS dot
    FROM ex c JOIN (SELECT i, v FROM ex WHERE vec_id = 0) qq ON c.i = qq.i
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id
),
qcos AS (
    SELECT d.vec_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(n.nsq AS DOUBLE)) * sqrt(CAST(qn.nsq AS DOUBLE))) AS cosine
    FROM qdot d
    JOIN norms n ON n.vec_id = d.vec_id
    CROSS JOIN (SELECT nsq FROM norms WHERE vec_id = 0) qn
),
true_topk AS (
    SELECT vec_id, cosine FROM qcos ORDER BY cosine DESC, vec_id LIMIT 10
)"""


def _cand_topk_sql(cand: str) -> str:
    """The exact top-10 (vec_id, cosine) of a candidate CTE's vec_ids,
    over _TRUTH_CTES."""
    return f"""
SELECT c.vec_id, s.cosine FROM {cand} c JOIN qcos s ON s.vec_id = c.vec_id
ORDER BY s.cosine DESC, c.vec_id
LIMIT 10"""


def _overlap_sql(retrieved: str) -> str:
    """The scalar subquery counting a ``retrieved`` top-10 CTE's rows
    in true_topk (_TRUTH_CTES)."""
    return f"(SELECT COUNT(*) FROM true_topk t JOIN {retrieved} r ON t.vec_id = r.vec_id)"


def _recall_sql(retrieved: str) -> str:
    """The oracle twin of :func:`_recall_at_10` over a ``retrieved``
    top-10 CTE (DuckDB's x / 0 is NULL, as _recall's)."""
    ovl = _overlap_sql(retrieved)
    return f"""
SELECT CAST((SELECT COUNT(*) FROM true_topk) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM {retrieved}) AS BIGINT) AS n_retrieved,
       CAST({ovl} AS BIGINT) AS n_overlap,
       CAST({ovl} AS DOUBLE) / (SELECT COUNT(*) FROM true_topk) AS recall_at_10
"""


def _batch_truth_ctes(nq: int) -> str:
    """The oracle's exact batch truth for the query block vec_id < nq:
    the GATED query ids (qs, read from q as the engine's block is — a
    query vector the gate drops is no query), every (query, corpus)
    cosine (bcos) and each query's top-10 (btrue)."""
    return f"""
qs AS (SELECT vec_id AS qid FROM q WHERE vec_id < {nq}),
bdots AS (
    SELECT q.qid, e.vec_id, SUM(eq.v * e.v) AS dot
    FROM qs q
    JOIN ex eq ON eq.vec_id = q.qid
    JOIN ex e ON e.i = eq.i AND e.vec_id >= {nq}
    GROUP BY 1, 2
),
bcos AS (
    SELECT d.qid, d.vec_id,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(nc.nsq AS DOUBLE))) AS cosine
    FROM bdots d
    JOIN norms nq ON nq.vec_id = d.qid
    JOIN norms nc ON nc.vec_id = d.vec_id
),
btrue AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        FROM bcos
    ) WHERE rk <= 10
)"""


def _overlap_per_query_sql(retrieved: str, name: str) -> str:
    """The oracle twin of :func:`_overlap_per_query`: (qid, ``name``),
    how many of each query's btrue rows the (qid, vec_id) CTE
    ``retrieved`` holds; a query with none is absent."""
    return f"""
    SELECT t.qid, COUNT(*) AS {name}
    FROM btrue t JOIN {retrieved} r ON r.qid = t.qid AND r.vec_id = t.vec_id
    GROUP BY t.qid"""


@register(
    "sim_pairwise_cosine",
    oracle=f"""
WITH {_Q_CTE},
dots AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
    FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
    GROUP BY 1, 2
)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cosine
FROM dots
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) > 0.3
""",
    doc=(
        "Embedding near-dup pairs: exact quantized cosine over the full "
        "corpus; at scale this form only runs on LSH candidate pairs."
    ),
)
def sim_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_pairs(spark, sf_dir, threshold=0.3)


#: memory target for the block grid: a block never exceeds this many
#: vectors, so a task (two blocks) holds ~2 x 100k x 64 dims x 8 B ≈ 100 MB
COSINE_BLOCK_TARGET_ROWS = 100_000


def _derive_n_blocks(spark: SparkSession, sf_dir: str) -> int:
    """Size the cosine block grid from the corpus, not a constant.

    Two constraints, take the max:
      * memory — corpus/B rows per block must fit the target (B grows
        LINEARLY with n past the target, which keeps per-task memory flat;
        the price is the B x corpus shuffle amplification — inherent to
        exact all-pairs, whose compute is O(n^2/2) regardless);
      * parallelism — the grid has B(B+1)/2 groups, which must cover the
        cluster's cores or most of them idle (B >= sqrt(2 x parallelism)).

    The corpus count comes from parquet footer metadata (io.table_row_count)
    — a driver-side metadata read, NOT a Spark job, so plan construction
    stays lazy (pinned by tests/test_plans.py)."""
    import math

    n = table_row_count(sf_dir, "embeddings")
    parallelism_floor = math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism))
    memory_need = math.ceil(n / COSINE_BLOCK_TARGET_ROWS)
    return max(1, parallelism_floor, memory_need)


def cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float, n_blocks: int | None = None
) -> DataFrame:
    """All (vec_a < vec_b) pairs with cosine above ``threshold``.

    Physical strategy: a fully distributed blocked self-join — no driver
    collect anywhere in the plan (round-1 shape collected the corpus to
    the driver; a 100 TB corpus OOMs there). Every vector lands in block
    ``vec_id % B``; each of the B*(B+1)/2 unordered block pairs becomes
    one ``applyInPandas`` group that computes its dot-block as a single
    BLAS matmul. Each vector is exploded to exactly B groups, so the
    shuffle is B x corpus — the standard R x C grid tradeoff for exact
    all-pairs, with per-task memory bounded by two blocks.

    float64 matmul is EXACT here (quantized |q| < 2^15 -> every product
    <= 9e8 and every 64-dim dot <= 6e10, all < 2^53), sqrt/divide are
    IEEE-deterministic, so oracle parity holds bit-for-bit. The same
    grouped-matmul stage runs per LSH/IVF bucket when candidates are
    pre-pruned (see sim_ann_lsh_bucketed / dedup_embedding_cosine).

    ``n_blocks`` overrides the derived grid size (output is identical for
    any B >= 1 — pinned by tests/test_similarity_blocks.py); by default B
    comes from _derive_n_blocks (memory bound + parallelism floor)."""
    import pandas as pd
    from pyspark.sql import types as T

    B = n_blocks if n_blocks is not None else _derive_n_blocks(spark, sf_dir)
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    blk = F.pmod(F.col("vec_id"), F.lit(B)).cast("int")
    # one struct per partner block: group id = (min,max) pair flattened;
    # side "a" = the lower block of the pair (both sides for the diagonal)
    partners = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda p: F.struct(
            (F.least(blk, p) * B + F.greatest(blk, p)).alias("gid"),
            F.when(blk <= p, F.lit("a")).otherwise(F.lit("b")).alias("side"),
        ),
    )
    exploded = qv.select(
        "vec_id", "qe", "nsq", F.explode(partners).alias("g")
    ).select("vec_id", "qe", "nsq", F.col("g.gid").alias("gid"), F.col("g.side").alias("side"))

    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _mat(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["qe"]], dtype=np.float64)
        # oracle computes dot / (sqrt(na) * sqrt(nb)) — mirror it exactly
        # (reciprocal-multiply would differ in the last ulp)
        norm = np.sqrt(pdf["nsq"].to_numpy(dtype=np.int64).astype(np.float64))
        return ids, mat, norm

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if len(b) == 0:  # diagonal group: all pairs within one block
            ids, mat, nrm = _mat(a)
            cos = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
            li, ri = np.nonzero((ids[:, None] < ids[None, :]) & (cos > threshold))
            return pd.DataFrame({"vec_a": ids[li], "vec_b": ids[ri], "cosine": cos[li, ri]})
        if len(a) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        a_ids, a_mat, a_nrm = _mat(a)
        b_ids, b_mat, b_nrm = _mat(b)
        cos = (a_mat @ b_mat.T) / (a_nrm[:, None] * b_nrm[None, :])
        li, ri = np.nonzero(cos > threshold)
        lo = np.minimum(a_ids[li], b_ids[ri])
        hi = np.maximum(a_ids[li], b_ids[ri])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos[li, ri]})

    return exploded.groupBy("gid").applyInPandas(block_pair, schema)


@register(
    "sim_ann_topk",
    oracle=f"""
WITH {_Q_CTE},
{_TRUTH_CTES}
SELECT vec_id, cosine FROM true_topk
""",
    doc=(
        "Brute-force ANN top-k: one query vector broadcast against the corpus, "
        "exact quantized cosine, deterministic ordering (cosine desc, vec_id)."
    ),
)
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    return (
        _exact_scored(qv.where(F.col("vec_id") != 0), _query_block(qv))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


#: the oracle's LSH candidates: the corpus vectors in vector 0's bucket
_LSH_CAND_CTES = f"""
buckets AS (
    SELECT vec_id, {sign_bucket_sql("embedding")} AS bucket FROM embeddings
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
cand AS (
    SELECT b.vec_id FROM buckets b, qb WHERE b.bucket = qb.bucket AND b.vec_id <> 0
)"""


@register(
    "sim_ann_lsh_bucketed",
    oracle=f"""
WITH {_Q_CTE},
{_LSH_CAND_CTES},
{_TRUTH_CTES}
{_cand_topk_sql("cand")}
""",
    doc=(
        "LSH-bucketed ANN (scale path): sign-bit bucket on leading coordinates "
        "prunes the corpus to the query's bucket before exact cosine — partition "
        "pruning for vector search."
    ),
)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _quantized(spark, sf_dir).join(
        emb.select("vec_id", sign_bucket(F.col("embedding")).alias("bucket")), "vec_id"
    )
    query = _query_block(qv, cols=("qe", "nsq", "bucket"))
    return (
        qv.where(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("bucket") == F.col("q_bucket"))
        .select("vec_id", _exact_cosine().alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# ------------------------------------------------------------------- IVF

N_CELLS = 8  # centroids = the first N_CELLS vectors (deterministic "training")
N_PROBE = 2  # query probes its 2 nearest cells


def _nearest_cells(
    frame: DataFrame, cents: DataFrame, k: int | None = 1, by: tuple = ()
) -> DataFrame:
    """The one nearest-centroid ranking: every row (vec_id, *by, qe, nsq)
    against a broadcast centroid set (*by, cid, c_qe, c_nsq) joined on
    ``by`` — () for coarse cells or ("m",) for PQ subspaces, the only
    two keys — by exact quantized cosine; zero-norm centroids never
    rank. Each (vec_id, *by) keeps its ``k`` best cells in (cos desc,
    cid asc) order, every cell when ``k`` is None. k = 1 is the argmax
    assignment (vec_id, *by, cell); otherwise rows carry their ``rank``.
    The window ranks the centroid rows of one key — bounded by the
    codebook, never the corpus. SQL twin: :func:`_nearest_cells_sql`."""
    book = cents.select(*by, "cid", "c_qe", "c_nsq")
    cos = cosine_q(dot_q(F.col("qe"), F.col("c_qe")), F.col("nsq"), F.col("c_nsq"))
    # literal window keys, each a reviewed bounded key (m has PQ_M values)
    w = Window.partitionBy("vec_id", "m") if by else Window.partitionBy("vec_id")
    w = w.orderBy(F.desc("cos"), F.asc("cid"))
    ranked = (
        (
            frame.join(F.broadcast(book), list(by))
            if by
            else frame.crossJoin(F.broadcast(book))
        )
        .where(F.col("c_nsq") > 0)
        .select("vec_id", *by, "cid", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
    )
    if k is not None:
        ranked = ranked.where(F.col("rank") <= k)
    return ranked.select(
        "vec_id", *by, F.col("cid").alias("cell"), *(["rank"] if k != 1 else [])
    )


def _book_dots_sql(src: str, book: str, where: str = "") -> str:
    """(vec_id, cid, dot): the exact integer dot of every row of the
    long-form stream ``src`` (vec_id, i, v), filtered by ``where``, with
    every entry of the long-form codebook ``book`` (cid, i, cv)."""
    pred = f" WHERE {where}" if where else ""
    return f"""
        SELECT e.vec_id, x.cid, SUM(e.v * x.cv) AS dot
        FROM {src} e JOIN {book} x ON x.i = e.i{pred} GROUP BY 1, 2"""


def _codebook_sql(name: str, body: str) -> str:
    """The long-form codebook CTE ``name`` (cid, i, cv) selected by
    ``body``, and its squared norms {name}_nsq (cid, cnsq)."""
    return f"""{name} AS MATERIALIZED ({body}),
{name}_nsq AS MATERIALIZED (SELECT cid, SUM(cv * cv) AS cnsq FROM {name} GROUP BY cid)"""


def _nearest_cells_sql(
    book: str, src: str = "ex", norms: str = "norms", k: int | None = 1, where: str = ""
) -> str:
    """The SQL twin of :func:`_nearest_cells`: every row of the stream
    ``src`` (vec_id, i, v) with squared norms ``norms`` (vec_id, nsq),
    filtered by ``where``, against the codebook ``book`` (_codebook_sql)
    by exact quantized cosine; zero-norm centroids never rank. Each
    vec_id keeps its ``k`` best cells in (cos desc, cid asc) order,
    every cell when ``k`` is None: (vec_id, cell) for k = 1, otherwise
    (vec_id, cell, rank)."""
    keep = "" if k is None else f" WHERE rank <= {k}"
    return f"""
    SELECT vec_id, cid AS cell{"" if k == 1 else ", rank"} FROM (
        SELECT d.vec_id, d.cid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                   CAST(d.dot AS DOUBLE) / (sqrt(CAST(n.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE))) DESC,
                   d.cid) AS rank
        FROM ({_book_dots_sql(src, book, where)}) d
        JOIN {norms} n ON n.vec_id = d.vec_id
        JOIN {book}_nsq c ON c.cid = d.cid
        WHERE c.cnsq > 0
    ){keep}"""


def _probe(
    qv: DataFrame, cents: DataFrame, assign: DataFrame, nprobe: int, nq: int = 1
) -> DataFrame:
    """(q_id, vec_id) IVF candidates: the corpus rows (vec_id >= nq) of
    the cell ``assign``ment (vec_id, cell) that lie in one of the
    ``nprobe`` cells of ``cents`` nearest each query (vec_id < nq)."""
    # the query rows sit on one partition, which already meets the
    # ranking window's clustering, so the probe adds no shuffle stage
    probe = _nearest_cells(qv.where(F.col("vec_id") < nq).coalesce(1), cents, nprobe)
    return (
        assign.join(
            F.broadcast(probe.select(F.col("vec_id").alias("q_id"), "cell")), "cell"
        )
        .where(F.col("vec_id") >= nq)
        .select("q_id", "vec_id")
    )


def _probe_sql(assign: str, book: str, nprobe: int, nq: int = 1) -> str:
    """The SQL twin of :func:`_probe`: (qid, vec_id) over the assignment
    CTE ``assign`` (vec_id, cell) and the codebook ``book``."""
    return f"""
    SELECT p.vec_id AS qid, a.vec_id
    FROM {assign} a
    JOIN ({_nearest_cells_sql(book, k=nprobe, where=f"e.vec_id < {nq}")}) p ON p.cell = a.cell
    WHERE a.vec_id >= {nq}"""


def _centroid_sums(members: DataFrame, by: tuple = ()) -> DataFrame:
    """The one centroid update: member rows (*by, cell, qe) -> (*by, cid,
    c_qe, c_nsq, n), the exact per-dimension int64 member sums
    (posexplode + two-phase groupBy, 64 rows of state per cell, array
    order restored by array_sort on the (dim, sum) struct), their
    squared norm and the member count. Cosine is scale-invariant, so the
    sum vector IS the mean direction — nothing is ever float-averaged.
    Zero-norm sums stay: _nearest_cells never ranks them. SQL twin:
    :func:`_centroid_sums_sql`."""
    keys = [*by, "cell"]
    return (
        members.select(*keys, F.posexplode("qe").alias("i", "v"))
        .groupBy(*keys, "i")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))), lambda x: x["s"]
            ).alias("c_qe"),
            F.max("n").alias("n"),
        )
        .select(
            *by,
            F.col("cell").alias("cid"),
            "c_qe",
            norm_sq_q(F.col("c_qe")).alias("c_nsq"),
            "n",
        )
    )


def _centroid_sums_sql(name: str, src: str, members: str) -> str:
    """The SQL twin of :func:`_centroid_sums`: the codebook ``name`` of
    the integer member sums of the stream ``src`` (vec_id, i, v) grouped
    by the ``members`` cells (vec_id, cell), and the member counts
    {name}_cnt (cid, cnt)."""
    return f"""{_codebook_sql(name, f'''
    SELECT a.cell AS cid, e.i, CAST(SUM(e.v) AS BIGINT) AS cv
    FROM {src} e JOIN {members} a ON a.vec_id = e.vec_id GROUP BY 1, 2''')},
{name}_cnt AS (SELECT cell AS cid, COUNT(*) AS cnt FROM {members} GROUP BY cell)"""


def _book_csv_sql(book: str) -> str:
    """(cid, centroid_sum): each codebook entry's sum vector as exact
    int64 text, comma-joined in dimension order (csv_longs' twin)."""
    return f"""SELECT cid, string_agg(CAST(cv AS VARCHAR), ',' ORDER BY i) AS centroid_sum
    FROM {book} GROUP BY cid"""


def _lloyd_round(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """One coarse spherical Lloyd round: assign every vector to its
    nearest cell, re-center each cell on its member sum; cells whose sum
    has zero norm drop (they cannot be assigned to). SQL twin:
    :func:`_lloyd_round_sql`."""
    members = qv.join(_nearest_cells(qv, cents), "vec_id")
    return _centroid_sums(members).where(F.col("c_nsq") > 0)


def _lloyd_round_sql(
    p: str, src: str = "ex", norms: str = "norms", k: int = N_CELLS
) -> str:
    """The SQL twin of :func:`_lloyd_round`, its CTEs named {p}*: the
    seed codebook {p}b0 of the stream's first ``k`` vectors, the seed
    assignment {p}a0 and the re-centered codebook {p}b1 with its member
    counts {p}b1_cnt. Zero-norm sums stay in {p}b1; the nearest-cell
    ranking never ranks them."""
    seeds = f"SELECT vec_id AS cid, i, v AS cv FROM {src} WHERE vec_id < {k}"
    return f"""{_codebook_sql(f"{p}b0", seeds)},
{p}a0 AS MATERIALIZED ({_nearest_cells_sql(f"{p}b0", src, norms)}),
{_centroid_sums_sql(f"{p}b1", src, f"{p}a0")}"""


#: the oracle's coarse k-means round over the gated corpus (c_b0 seeds,
#: c_a0 seed assignment, c_b1 trained cells) and the trained assignment
_KMEANS_R1_CTES = _lloyd_round_sql("c_")
_IVF_ASSIGN_CTES = f"ivfa1 AS MATERIALIZED ({_nearest_cells_sql('c_b1')})"


def _ivf_probe(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """FAISS-style IVF probe against any centroid set (cid, c_qe, c_nsq):
    assign every vector to its argmax-cosine cell, probe the query's
    N_PROBE nearest cells, exact cosine only inside them, top-10."""
    cand = _probe(qv, cents, _nearest_cells(qv, cents), N_PROBE)
    return (
        _exact_scored(qv.join(cand.select("vec_id"), "vec_id"), _query_block(qv))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _ivf_probe_sql(assign: str, book: str) -> str:
    """The SQL twin of :func:`_ivf_probe` over an assignment CTE and its
    codebook: the exact top-10 of the probed cells."""
    return f"""cand AS ({_probe_sql(assign, book, N_PROBE)}),
{_TRUTH_CTES}
{_cand_topk_sql("cand")}"""


@register(
    "sim_ann_ivf",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_ivf_probe_sql("c_a0", "c_b0")}
""",
    doc=(
        "IVF ANN (scale path #2): assign every vector to its nearest of "
        f"{N_CELLS} centroid cells (deterministic centroids = first vectors), "
        f"query probes its {N_PROBE} nearest cells, exact cosine only inside "
        "them — the coarse-quantizer partition-pruning of FAISS-style IVF, "
        "relationally."
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    cents = qv.where(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("qe").alias("c_qe"), F.col("nsq").alias("c_nsq")
    )
    return _ivf_probe(qv, cents)


# ------------------------------------------------------------ multi-probe

N_PROBE_BITS = 4  # sign_bucket width; probes = bucket + its 4 hamming-1 neighbors


@register(
    "sim_ann_multiprobe",
    oracle=f"""
WITH {_Q_CTE},
buckets AS (
    SELECT vec_id, {sign_bucket_sql("embedding")} AS bucket FROM embeddings
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
probes AS (
    SELECT DISTINCT p.pb FROM qb,
        LATERAL (SELECT unnest([qb.bucket,
                                xor(qb.bucket, 1), xor(qb.bucket, 2),
                                xor(qb.bucket, 4), xor(qb.bucket, 8)]) AS pb) p
),
cand AS (
    SELECT b.vec_id FROM buckets b JOIN probes p ON b.bucket = p.pb
    WHERE b.vec_id <> 0
),
{_TRUTH_CTES}
{_cand_topk_sql("cand")}
""",
    doc=(
        "Multi-probe LSH ANN: probe the query's bucket AND its hamming-1 "
        "neighbor buckets (one sign-bit flip each) — recovers most of the "
        "recall lost to bucket-boundary effects at ~5x the candidate cost, "
        "without more hash tables."
    ),
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _quantized(spark, sf_dir).join(
        emb.select("vec_id", sign_bucket(F.col("embedding")).alias("bucket")), "vec_id"
    )
    q_bucket = (
        qv.where(F.col("vec_id") == 0)
        .select(
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[F.expr(f"bucket ^ {1 << i}") for i in range(N_PROBE_BITS)],
                )
            ).alias("pb")
        )
        .distinct()
    )
    corpus = qv.where(F.col("vec_id") != 0).join(
        F.broadcast(q_bucket), F.col("bucket") == F.col("pb")
    )
    return (
        _exact_scored(corpus, _query_block(qv))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------- centroid UDAF


@register(
    "agg_embedding_centroid",
    oracle=f"""
WITH {_Q_CTE},
per_dim AS (
    SELECT label, t.i AS dim, SUM(qe[t.i]) AS s, COUNT(*) AS n
    FROM q, unnest(generate_series(1, len(qe))) t(i)
    GROUP BY label, t.i
)
SELECT label,
       MAX(n) AS n_vectors,
       string_agg(CAST(s AS VARCHAR), ',' ORDER BY dim) AS centroid_sums
FROM per_dim
GROUP BY label
ORDER BY label
""",
    doc=(
        "Per-label embedding centroid via a GROUPED_AGG pandas UDAF "
        "(SURVEY.md §2.9's named example): Arrow ships each label's "
        "quantized vectors to one numpy sum — exact int64, so the output "
        "is bit-stable regardless of row order. The canonical artifact is "
        "the comma-serialized EXACT per-dim sum vector plus n_vectors "
        "(the float centroid is sums/(n*scale), one lossless divide away; "
        "a double array would defeat the driver canonicalizer and float "
        "formatting differs across engines)."
    ),
)
def agg_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.canon import csv_longs

    # r15 (guide §2.3 "aggregate before you shuffle"): the r14 shape was
    # ONE GROUPED_AGG UDAF — but GROUPED_AGG has no partial aggregation,
    # so every group's full vector set shuffled to a single task and
    # crossed the Arrow boundary whole. This shape sums per PARTITION in
    # one mapInArrow kernel (exact int64, associative), so the shuffle
    # carries one (label, n, sums) row per (partition, label) and the
    # final merge is a JVM partial-aggregable groupBy over 64 fixed sum
    # columns. Output is bit-identical: integer sums are order-free.
    d = _modal_dim(spark, sf_dir)
    if d == 0:
        # no vectors (or only empty ones): there are no per-dim columns
        # to generate and no rows to sum, so skip the Arrow pass
        return driver_frame(spark, [], "label int, n_vectors long, centroid_sums string")

    def partials(batches):
        import numpy as np
        import pyarrow as pa

        acc_n: dict = {}
        acc_s: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            labels = batch.column(0).to_pylist()  # int or None, null-safe
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(len(labels), -1)
            idx: dict = {}
            for i, lab in enumerate(labels):
                idx.setdefault(lab, []).append(i)
            for lab, rows in idx.items():
                s = mat[rows].sum(axis=0, dtype=np.int64)
                acc_n[lab] = acc_n.get(lab, 0) + len(rows)
                prev = acc_s.get(lab)
                acc_s[lab] = s if prev is None else prev + s
        if acc_n:
            labs = list(acc_n)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(labs, pa.int32()),
                    pa.array([acc_n[k] for k in labs], pa.int64()),
                    pa.array([acc_s[k].tolist() for k in labs], pa.list_(pa.int64())),
                ],
                names=["label", "n", "sums"],
            )

    emb = _quantized(spark, sf_dir).select("label", "qe")
    part = emb.mapInArrow(partials, "label int, n long, sums array<long>")
    summed = part.groupBy("label").agg(
        F.sum("n").alias("n_vectors"),
        *[F.sum(F.element_at("sums", i + 1)).alias(f"s{i}") for i in range(d)],
    )
    return summed.select(
        "label",
        "n_vectors",
        csv_longs(F.array(*[F.col(f"s{i}") for i in range(d)])).alias(
            "centroid_sums"
        ),
    ).orderBy("label")


@register(
    "sim_topk_arrow",
    oracle=f"""
WITH {_Q_CTE},
{_TRUTH_CTES}
SELECT vec_id, cosine FROM true_topk
""",
    doc=(
        "Brute-force top-k again, but the scoring stage is mapInArrow: "
        "columnar Arrow batches flow straight into a BLAS matvec with zero "
        "pandas materialization — the fastest Python-side path Spark "
        "offers when built-ins can't express the kernel (~2x less "
        "serialization than a pandas UDF on wide array columns). Same "
        "exact quantized math as sim_ann_topk, identical oracle; the "
        "final top-k is Spark's TakeOrderedAndProject over the scored "
        "stream, so no executor ever holds more than its own batch. The "
        "query vector reaches the kernel as a broadcast 1-row join column "
        "— plan construction runs ZERO driver jobs (same contract as "
        "cosine_pairs, pinned by tests/test_plans.py)."
    ),
)
def sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    qv = _quantized(spark, sf_dir)
    query = _query_block(qv)

    out_schema = "vec_id bigint, cosine double"

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # the broadcast join stamped the query on every row; one
            # de-reference per batch costs nothing
            q_vec = np.asarray(batch.column("q_qe")[0].as_py(), dtype=np.float64)
            q_norm = float(np.sqrt(float(batch.column("q_nsq")[0].as_py())))
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            flat = batch.column("qe").flatten().to_numpy(zero_copy_only=False)
            mat = flat.astype(np.float64).reshape(len(ids), -1)
            nsq = batch.column("nsq").to_numpy(zero_copy_only=False).astype(np.float64)
            # float64 matvec exact at |q| < 2^15 (see cosine_pairs); the
            # divide mirrors the oracle's dot / (sqrt(a) * sqrt(b))
            cos = (mat @ q_vec) / (np.sqrt(nsq) * q_norm)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(cos, type=pa.float64())],
                names=["vec_id", "cosine"],
            )

    stream = (
        qv.where(F.col("vec_id") != 0)
        .select("vec_id", "qe", "nsq")
        .crossJoin(F.broadcast(query))
    )
    # a big corpus parallelizes from its file splits; only a scan too small
    # to split (the local test shape) earns a redistribution — at 100 TB an
    # unconditional repartition here would be a full corpus shuffle for
    # nothing. os.stat metadata, no Spark job (plan-time-jobs test covers).
    # full byte-suffix grammar: a driver-built session may carry '128MB'
    max_split = parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    est_splits = max(1, table_size_bytes(sf_dir, "embeddings") // max_split)
    if est_splits < spark.sparkContext.defaultParallelism:
        stream = stream.repartition(max(2, spark.sparkContext.defaultParallelism))
    return (
        stream.mapInArrow(score, out_schema)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_LSH_CAND_CTES},
{_TRUTH_CTES},
lsh_topk AS ({_cand_topk_sql("cand")})
{_recall_sql("lsh_topk")}""",
    doc=(
        "ANN recall evaluation: recall@10 of the LSH-bucketed path against "
        "the brute-force ground truth — the ONE number that decides whether "
        "a bucketing config ships (the pruning-vs-recall tradeoff is "
        "invisible without it; cf. dedup_minhash_calibration for the "
        "near-dup twin). Both top-k lists reuse the same exact quantized "
        "cosine and total order, the comparison is an integer overlap "
        "count — at corpus scale this runs over a held-out query sample "
        "with the same two-sided shape."
    ),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_at_10(spark, sf_dir, sim_ann_lsh_bucketed(spark, sf_dir))


# ------------------------------------------------------------- batch ANN

N_QUERY_BATCH = 8  # deterministic query set: the first 8 vectors


@register(
    "sim_ann_topk_batch",
    oracle=f"""
WITH {_Q_CTE},
{_batch_truth_ctes(N_QUERY_BATCH)},
ranked AS (
    SELECT qid AS q_id, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
    FROM bcos
)
SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
""",
    doc=(
        f"Batch ANN: exact top-10 for {N_QUERY_BATCH} query vectors in ONE "
        "corpus pass — the realistic serving shape (per-query jobs rescan "
        "the corpus N times). The query block rides a broadcast, every "
        "corpus row scores against all queries in the same task, and the "
        "per-query top-k is a rank window partitioned by query id, so the "
        "only wide exchange carries q_id-keyed score rows. Same exact "
        "quantized cosine and total order as sim_ann_topk."
    ),
)
def sim_ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    scored = _exact_scored(
        qv.where(F.col("vec_id") >= N_QUERY_BATCH), _query_block(qv, N_QUERY_BATCH)
    )
    return (
        scored.withColumn("rank", F.row_number().over(_per_query()))
        .where(F.col("rank") <= 10)
        .select("q_id", "rank", "vec_id", "cosine")
    )


# --------- exact-collapse + recursive sign-split embedding pair path
#
# The SemDeDup mega-cluster design (VERDICT r8/r9 top ask), three layers:
#
# 1. EXACT COLLAPSE: identical quantized vectors groupBy into one
#    count-weighted representative (min vec_id) BEFORE any bucketing —
#    a 50k-copy boilerplate embedding is ONE row to every downstream
#    stage, and its members attach back via O(group) star edges. No
#    split depth can separate identical vectors; collapsing them is the
#    only move that works, and it also shrinks every later stage.
# 2. RECURSIVE SPLIT: distinct vectors key on their first 4 sign bits;
#    a bucket over SIM_SPLIT_CAP re-keys on the next 4 bits, up to
#    SIM_SPLIT_LEVELS deep (prefix-occupancy form: each vector stops at
#    the SHORTEST sign-bit prefix whose occupancy fits the cap, which is
#    exactly the recursive hot-bucket split, computed in one pass from
#    per-level occupancy aggregates that are all <= 16^level rows and
#    ride broadcasts).
# 3. PROBE BACKSTOP: a full-depth bucket still over SIM_MAX_BUCKET is
#    excluded from the quadratic matmul, but every member pairs with the
#    bucket's min-id representative — O(bucket) probes, the
#    lsh_candidate_pairs recovery pattern (operators/dedup.py) — so
#    nothing is ever silently dropped from detection; cross-member
#    recall inside such a bucket is traded for boundedness and the
#    anchor keeps the cluster connected for components/keep-list.

#: sign bits consumed per split level (16-way fan-out per level)
SIGN_BUCKET_BITS = 4
#: maximum split depth — the deepest bucket key commits
#: SIGN_BUCKET_BITS * SIM_SPLIT_LEVELS sign bits; beyond that the probe
#: backstop (not more splitting) bounds the work
SIM_SPLIT_LEVELS = 4
#: a bucket whose DISTINCT-vector occupancy exceeds this splits on the
#: next four sign bits (recursively, up to SIM_SPLIT_LEVELS)
SIM_SPLIT_CAP = 256
#: backstop cap on the quadratic matmul: a full-depth bucket still over
#: this pairs members with the bucket-min representative instead of
#: self-joining — O(bucket) probes, never O(bucket^2), never a drop
SIM_MAX_BUCKET = 4096
#: pairs are emitted only above this cosine (engine/oracle shared)
SIM_PAIR_THRESHOLD = 0.3
#: rows per matmul tile inside the pair UDF: peak task memory is the
#: bucket matrix + one O(TILE x bucket) cosine tile, never O(bucket^2)
PAIR_TILE_ROWS = 1024


def _sql_prefix_keys(alias: str) -> list[str]:
    """Bucket-key expressions per depth: '5', '5.12', '5.12.3', ... —
    disjoint id spaces by construction (a deeper key always contains one
    more '.')."""
    cols = [f"CAST({alias}.b{k} AS VARCHAR)" for k in range(SIM_SPLIT_LEVELS)]
    return [" || '.' || ".join(cols[: d + 1]) for d in range(SIM_SPLIT_LEVELS)]


def _split_chain_sql(src: str, p: str, cap: int) -> str:
    """The recursive-split CTE chain over distinct vectors from CTE
    ``src`` (must expose rep_id, group_n, qe), names prefixed ``p`` so
    the corpus/batch twins of the incremental path can coexist: emits
    {p}rb (sign bits), {p}o0..{p}oN (per-level occupancy), {p}rbk
    (rep_id, group_n, bucket, bucket_n)."""
    signs = ",\n           ".join(
        f"{sign_bucket_sql('qe', offset=SIGN_BUCKET_BITS * k)} AS b{k}"
        for k in range(SIM_SPLIT_LEVELS)
    )
    occs = ",\n".join(
        f"{p}o{d} AS (SELECT {', '.join(f'b{k}' for k in range(d + 1))}, "
        f"COUNT(*) AS n FROM {p}rb GROUP BY "
        f"{', '.join(str(k + 1) for k in range(d + 1))})"
        for d in range(SIM_SPLIT_LEVELS)
    )
    joins = "\n    ".join(
        f"JOIN {p}o{d} o{d} ON "
        + " AND ".join(f"o{d}.b{k} = r.b{k}" for k in range(d + 1))
        for d in range(SIM_SPLIT_LEVELS)
    )
    keys = _sql_prefix_keys("r")
    bucket_case = (
        "CASE "
        + " ".join(
            f"WHEN o{d}.n <= {cap} THEN {keys[d]}"
            for d in range(SIM_SPLIT_LEVELS - 1)
        )
        + f" ELSE {keys[SIM_SPLIT_LEVELS - 1]} END"
    )
    n_case = (
        "CASE "
        + " ".join(
            f"WHEN o{d}.n <= {cap} THEN o{d}.n"
            for d in range(SIM_SPLIT_LEVELS - 1)
        )
        + f" ELSE o{SIM_SPLIT_LEVELS - 1}.n END"
    )
    return f"""{p}rb AS (
    SELECT rep_id, group_n,
           {signs}
    FROM {src}
),
{occs},
{p}rbk AS MATERIALIZED (
    SELECT r.rep_id, r.group_n,
           {bucket_case} AS bucket,
           {n_case} AS bucket_n
    FROM {p}rb r
    {joins}
)"""


#: the exact-collapse + recursive-split CTE chain, shared verbatim by the
#: pair, keep-list, eval and occupancy-stats oracles so every consumer
#: sees the identical bucket policy. Ends in ``live``: (vec_id, bucket)
#: for EVERY vector (members inherit their representative's bucket),
#: minus members of hot (> SIM_MAX_BUCKET distinct vectors) buckets —
#: those are recovered by the probe CTEs in _PAIR_CTES, not dropped.
_SPLIT_BUCKET_CTES = f"""sgrp AS MATERIALIZED (
    SELECT qe, MIN(vec_id) AS rep_id, COUNT(*) AS group_n
    FROM q GROUP BY qe
),
smem AS MATERIALIZED (
    SELECT q.vec_id, g.rep_id, g.group_n FROM q JOIN sgrp g ON g.qe = q.qe
),
{_split_chain_sql("sgrp", "s", SIM_SPLIT_CAP)},
live AS (
    SELECT m.vec_id, k.bucket
    FROM smem m JOIN srbk k ON k.rep_id = m.rep_id
    WHERE k.bucket_n <= {SIM_MAX_BUCKET}
)"""

#: pair-production chain on top of _SPLIT_BUCKET_CTES, ending in
#: ``spairs (vec_a, vec_b, cosine)``: live-bucket matmul pairs among
#: representatives + hot-bucket representative probes + exact-group star
#: edges. Shared by the pair query, the SemDeDup component chain, the
#: threshold sweep and the dedup funnel's semantic stage.
_PAIR_CTES = f"""{_SPLIT_BUCKET_CTES},
srlive AS (SELECT rep_id, bucket FROM srbk WHERE bucket_n <= {SIM_MAX_BUCKET}),
srhot AS (SELECT rep_id, bucket FROM srbk WHERE bucket_n > {SIM_MAX_BUCKET}),
sanch AS (SELECT bucket, MIN(rep_id) AS anchor FROM srhot GROUP BY bucket),
srdots AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
    FROM ex a
    JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
    JOIN srlive ba ON ba.rep_id = a.vec_id
    JOIN srlive bb ON bb.rep_id = b.vec_id AND bb.bucket = ba.bucket
    GROUP BY 1, 2
),
srpairs AS (
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cosine
    FROM srdots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) > {SIM_PAIR_THRESHOLD}
),
spdots AS (
    SELECT n.anchor AS vec_a, h.rep_id AS vec_b, SUM(a.v * b.v) AS dot
    FROM srhot h
    JOIN sanch n ON n.bucket = h.bucket AND h.rep_id <> n.anchor
    JOIN ex a ON a.vec_id = n.anchor
    JOIN ex b ON b.vec_id = h.rep_id AND b.i = a.i
    GROUP BY 1, 2
),
sppairs AS (
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cosine
    FROM spdots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE na.nsq > 0 AND nb.nsq > 0
      AND CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) > {SIM_PAIR_THRESHOLD}
),
sstars AS (
    SELECT m.rep_id AS vec_a, m.vec_id AS vec_b,
           CAST(n.nsq AS DOUBLE) / (sqrt(CAST(n.nsq AS DOUBLE)) * sqrt(CAST(n.nsq AS DOUBLE))) AS cosine
    FROM smem m JOIN norms n ON n.vec_id = m.vec_id
    WHERE m.vec_id <> m.rep_id AND n.nsq > 0
),
spairs AS (
    SELECT vec_a, vec_b, cosine FROM srpairs
    UNION ALL SELECT vec_a, vec_b, cosine FROM sppairs
    UNION ALL SELECT vec_a, vec_b, cosine FROM sstars
)"""


def _exact_groups_of(qv: DataFrame) -> DataFrame:
    """(qe, rep_id, group_n) over a (vec_id, qe, ...) frame: the exact-
    duplicate collapse groupBy — built ONCE per query and shared by the
    member frame and the split chain, so the content shuffle is paid
    once, not per consumer."""
    return qv.groupBy("qe").agg(
        F.min("vec_id").alias("rep_id"), F.count(F.lit(1)).alias("group_n")
    )


def _prefix_key_cols() -> list:
    """Spark twins of _sql_prefix_keys: bucket-key columns per depth."""
    return [
        F.concat_ws(".", *[F.col(f"b{k}").cast("string") for k in range(d + 1)])
        for d in range(SIM_SPLIT_LEVELS)
    ]


def _split_assign(grp: DataFrame, split_cap: int):
    """Closed-form recursive split over a (rep_id, group_n, qe) frame of
    DISTINCT vectors: each representative stops at the shortest sign-bit
    prefix (4 bits per level, up to SIM_SPLIT_LEVELS) whose occupancy
    fits ``split_cap``. Returns (rbk, occs): rbk = (rep_id, group_n,
    bucket, bucket_n); occs[d] = the level-d occupancy frame keyed
    (b0..bd) -> n{d}, reused by the incremental router so batch vectors
    route through the SAME policy the corpus index committed to. Every
    occupancy frame is <= 16^(d+1) rows regardless of corpus size, so
    all policy joins ride broadcasts."""
    srb = grp.select(
        "rep_id",
        "group_n",
        *[
            sign_bucket(F.col("qe"), offset=SIGN_BUCKET_BITS * k).alias(f"b{k}")
            for k in range(SIM_SPLIT_LEVELS)
        ],
    )
    occs = []
    out = srb
    for d in range(SIM_SPLIT_LEVELS):
        keys = [f"b{k}" for k in range(d + 1)]
        occ = srb.groupBy(*keys).agg(F.count(F.lit(1)).alias(f"n{d}"))
        occs.append(occ)
        out = out.join(F.broadcast(occ), keys)
    key_exprs = _prefix_key_cols()
    bucket = F.when(F.col("n0") <= split_cap, key_exprs[0])
    bucket_n = F.when(F.col("n0") <= split_cap, F.col("n0"))
    for d in range(1, SIM_SPLIT_LEVELS - 1):
        bucket = bucket.when(F.col(f"n{d}") <= split_cap, key_exprs[d])
        bucket_n = bucket_n.when(F.col(f"n{d}") <= split_cap, F.col(f"n{d}"))
    last = SIM_SPLIT_LEVELS - 1
    bucket = bucket.otherwise(key_exprs[last])
    bucket_n = bucket_n.otherwise(F.col(f"n{last}"))
    rbk = out.select(
        "rep_id", "group_n", bucket.alias("bucket"), bucket_n.alias("bucket_n")
    )
    return rbk, occs


def _route_to_buckets(sig: DataFrame, occs, split_cap: int) -> DataFrame:
    """Route NEW vectors (a frame with b0..b{L-1} sign columns and any
    carry-through columns) to the bucket an existing index's occupancy
    frames commit them to: the shortest prefix whose INDEX occupancy fits
    the cap (absent prefixes count 0 -> stop immediately -> no
    candidates). Pure broadcast left-joins."""
    out = sig
    for d, occ in enumerate(occs):
        keys = [f"b{k}" for k in range(d + 1)]
        out = out.join(F.broadcast(occ), keys, "left")
    key_exprs = _prefix_key_cols()
    bucket = F.when(F.coalesce("n0", F.lit(0)) <= split_cap, key_exprs[0])
    for d in range(1, SIM_SPLIT_LEVELS - 1):
        bucket = bucket.when(
            F.coalesce(f"n{d}", F.lit(0)) <= split_cap, key_exprs[d]
        )
    bucket = bucket.otherwise(key_exprs[SIM_SPLIT_LEVELS - 1])
    drop = [c for c in out.columns if c[0] in "bn" and c[1:].isdigit()]
    return out.withColumn("bucket", bucket).drop(*drop)


def rep_sign_buckets(
    spark: SparkSession, sf_dir: str, split_cap: int | None = None
) -> DataFrame:
    """(rep_id, group_n, bucket, bucket_n) over the corpus's DISTINCT
    vectors — see _split_assign. The only wide work is the content
    groupBy behind the exact collapse."""
    split_cap = SIM_SPLIT_CAP if split_cap is None else split_cap
    rbk, _ = _split_assign(
        _exact_groups_of(_quantized(spark, sf_dir)), split_cap
    )
    return rbk


def live_sign_buckets(
    spark: SparkSession,
    sf_dir: str,
    split_cap: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(vec_id, bucket) for EVERY vector — members inherit their exact
    group representative's bucket — minus members of hot buckets (>
    ``max_bucket`` DISTINCT vectors after the full split). Hot-bucket
    content is not lost: the pair path recovers it through bounded
    representative probes; this frame is the candidate universe for the
    matmul and the retrieval evals, where the bound is the point."""
    max_bucket = SIM_MAX_BUCKET if max_bucket is None else max_bucket
    split_cap = SIM_SPLIT_CAP if split_cap is None else split_cap
    qv = _quantized(spark, sf_dir)
    grp = _exact_groups_of(qv)
    members = qv.select("vec_id", "qe").join(grp, "qe").select("vec_id", "rep_id")
    rbk, _ = _split_assign(grp, split_cap)
    return members.join(
        rbk.where(F.col("bucket_n") <= max_bucket).select("rep_id", "bucket"),
        "rep_id",
    ).select("vec_id", "bucket")


#: queries in the batch recall eval — single-query recall@10 has 0.1
#: granularity (pure noise between compositions); 16 queries give a
#: stable mean and a worst-case tail
SIM_EVAL_NQ = 16


@register(
    "sim_ann_batch_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_SPLIT_BUCKET_CTES},
{_batch_truth_ctes(SIM_EVAL_NQ)},
blsh AS (
    SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY c.cosine DESC, c.vec_id) AS rk
        FROM bcos c
        JOIN live bq ON bq.vec_id = c.qid
        JOIN live bc ON bc.vec_id = c.vec_id AND bc.bucket = bq.bucket
    ) WHERE rk <= 10
),
bovl AS ({_overlap_per_query_sql("blsh", "n_overlap")}),
bper_q AS (
    SELECT q.qid, COALESCE(o.n_overlap, 0) AS n_overlap
    FROM qs q LEFT JOIN bovl o ON o.qid = q.qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * 10 AS BIGINT) AS n_true,
       CAST(SUM(n_overlap) AS BIGINT) AS n_overlap,
       CAST(SUM(n_overlap) AS DOUBLE) / (COUNT(*) * 10) AS mean_recall_at_10,
       CAST(MIN(n_overlap) AS DOUBLE) / 10 AS worst_recall_at_10
FROM bper_q
""",
    doc=(
        f"Batch recall eval — recall@10 of the PRODUCTION sign-bucket path "
        f"(split + cap policy, live_sign_buckets) averaged over "
        f"{SIM_EVAL_NQ} query vectors against per-query exact ground "
        "truth, plus the worst per-query tail. Single-query recall has "
        "0.1 granularity — composition comparisons at that resolution "
        "are noise (the r5 lesson from the IVF-PQ eval); this is the "
        "statistically meaningful version. Queries broadcast as one "
        f"{SIM_EVAL_NQ}-row block (sim_ann_topk_batch's shape), truth "
        "and LSH rank in per-query windows, and a query whose bucket "
        "was dropped by the cap scores an honest zero via the left join."
    ),
)
def sim_ann_batch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    queries = _query_block(qv, SIM_EVAL_NQ)
    scored = _exact_scored(qv.where(F.col("vec_id") >= SIM_EVAL_NQ), queries)
    truth = _rank_le(scored, 10)
    live = live_sign_buckets(spark, sf_dir)
    qbuckets = live.withColumnRenamed("vec_id", "q_id").where(
        F.col("q_id") < SIM_EVAL_NQ
    )
    cand = (
        live.where(F.col("vec_id") >= SIM_EVAL_NQ)
        .join(F.broadcast(qbuckets), "bucket")
        .select("q_id", "vec_id")
    )
    lsh = _rank_le(scored.join(cand, ["q_id", "vec_id"]), 10)
    per_q = (
        queries.select("q_id")
        .join(_overlap_per_query(truth, lsh, "n_overlap"), "q_id", "left")
        .select("q_id", F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.count(F.lit(1)) * 10).alias("n_true"),
        F.sum("n_overlap").alias("n_overlap"),
        (F.sum("n_overlap").cast("double") / (F.count(F.lit(1)) * 10)).alias(
            "mean_recall_at_10"
        ),
        (F.min("n_overlap").cast("double") / 10).alias("worst_recall_at_10"),
    )


# The full-corpus certificate — the collapse -> split -> matmul/probe/
# star pipeline, the most expensive shared subtree in the semantic
# family (the pair query, the keep-list, and the threshold sweep all
# consume it) — is memoized AND persisted through io.memo_checkpoint
# under the "sim_certificate" artifact family (see the function body);
# r12 retired the private session cache this comment used to describe.


@register(
    "sim_bucketed_cosine_pairs",
    oracle=f"""
WITH {_Q_CTE},
{_PAIR_CTES}
SELECT vec_a, vec_b, cosine FROM spairs
""",
    doc=(
        "Bucketed embedding near-dup pairs — the SemDeDup/web-scale shape, "
        "three bounded layers (see the module design note): (1) exact-"
        "identical vectors collapse to a count-weighted representative "
        "first, re-attaching as O(group) star edges — a 50k-copy "
        "boilerplate embedding is ONE downstream row, the only move that "
        "works when no sign-bit split can separate identical vectors; "
        "(2) distinct vectors land in recursively-split sign buckets "
        f"(cap {SIM_SPLIT_CAP}, up to {SIM_SPLIT_LEVELS} levels of 4 "
        "bits) and exact cosine runs within each live bucket as per-group "
        "BLAS matmuls (applyInPandas), compute sum-of-bucket^2 with the "
        f"bucket id as shuffle key; (3) a full-depth bucket still over "
        f"{SIM_MAX_BUCKET} pairs members with its min-id representative — "
        "O(bucket) probes, the lsh_candidate_pairs recovery pattern — "
        "never the quadratic self-join and never a silent drop "
        "(accounting: sim_bucket_occupancy_stats). Inside the UDF the "
        f"cosine matrix is computed in {PAIR_TILE_ROWS}-row tiles, so "
        "task memory is O(bucket x tile). Same exact quantized math as "
        "cosine_pairs; the emitted frame is a sparse CERTIFICATE of the "
        "near-dup graph (stars + representative graph), sufficient for "
        "every SemDeDup consumer (components, keep-list, sweep) without "
        "materializing quadratic intra-group pairs — and since r11 it is "
        "memoized per (session, corpus snapshot, policy) so those "
        "consumers share ONE materialization (the funnel instead "
        "re-roots the certificate on its stage-3 survivors)."
    ),
)
def sim_bucketed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the io.memo_checkpoint three-tier path (session memo -> persisted
    # index store -> build+publish): the certificate is the single most
    # expensive shared subtree in the semantic family, and since r12 a
    # FRESH SESSION reads it back from the snapshot store instead of
    # re-running collapse/split/matmul (VERDICT r11 item 1)
    from .. import io as _io

    return _io.memo_checkpoint(
        spark,
        sf_dir,
        "embeddings",
        "sim_certificate",
        lambda: bucketed_pairs_of(
            _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
        ),
        extra_key=(SIM_SPLIT_CAP, SIM_MAX_BUCKET, SIM_PAIR_THRESHOLD, PAIR_TILE_ROWS),
    )


def bucketed_pairs_of(qv: DataFrame) -> DataFrame:
    """The collapse -> split -> matmul/probe/star certificate over an
    arbitrary gated (vec_id, qe, nsq) frame. ``sim_bucketed_cosine_pairs``
    roots it on the full corpus; the dedup funnel roots it on stage-3
    SURVIVORS so the certificate's representatives and anchors are
    recomputed over the live vector set (ADVICE r10: filtering a
    full-corpus certificate to survivors loses the edges that routed
    through a removed representative, silently under-deduping)."""
    from pyspark.sql import types as T

    # ONE content groupBy feeds both the member frame and the split
    # chain (identical shuffle subtrees additionally collapse via
    # ReuseExchange inside the single physical plan)
    grp = _exact_groups_of(qv)
    members = qv.select("vec_id", "qe").join(grp, "qe").select(
        "vec_id", "rep_id"
    )
    rbk, _ = _split_assign(grp, SIM_SPLIT_CAP)
    max_bucket = SIM_MAX_BUCKET
    threshold = SIM_PAIR_THRESHOLD

    # layer 2: live-bucket matmul among representatives
    rlive = rbk.where(F.col("bucket_n") <= max_bucket).select(
        F.col("rep_id").alias("vec_id"), "bucket"
    )
    rq = qv.join(rlive, "vec_id").select("vec_id", "qe", "nsq", "bucket")
    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    tile = PAIR_TILE_ROWS  # bound at call time (tests shrink it)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["qe"]], dtype=np.float64)
        nrm = np.sqrt(pdf["nsq"].to_numpy(dtype=np.int64).astype(np.float64))
        outs = []
        for s in range(0, len(ids), tile):
            e = min(s + tile, len(ids))
            cos = (mat[s:e] @ mat.T) / (nrm[s:e, None] * nrm[None, :])
            li, ri = np.nonzero((ids[s:e, None] < ids[None, :]) & (cos > threshold))
            outs.append(
                pd.DataFrame(
                    {"vec_a": ids[s:e][li], "vec_b": ids[ri], "cosine": cos[li, ri]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    matmul = rq.groupBy("bucket").applyInPandas(bucket_pairs, schema)

    # layer 3: hot-bucket representative probes (bounded recovery)
    rhot = rbk.where(F.col("bucket_n") > max_bucket).select("rep_id", "bucket")
    anchors = rhot.groupBy("bucket").agg(F.min("rep_id").alias("anchor"))
    probes = rhot.join(F.broadcast(anchors), "bucket").where(
        F.col("rep_id") != F.col("anchor")
    )
    qa = qv.join(
        F.broadcast(anchors.select(F.col("anchor").alias("vec_id")).distinct()),
        "vec_id",
    ).select(
        F.col("vec_id").alias("anchor"),
        F.col("qe").alias("a_qe"),
        F.col("nsq").alias("a_nsq"),
    )
    qb = qv.select(
        F.col("vec_id").alias("rep_id"),
        F.col("qe").alias("b_qe"),
        F.col("nsq").alias("b_nsq"),
    )
    pcos = cosine_q(
        dot_q(F.col("a_qe"), F.col("b_qe")), F.col("a_nsq"), F.col("b_nsq")
    )
    ppairs = (
        probes.join(F.broadcast(qa), "anchor")
        .join(qb, "rep_id")
        .where((F.col("a_nsq") > 0) & (F.col("b_nsq") > 0))
        .select(
            F.col("anchor").alias("vec_a"),
            F.col("rep_id").alias("vec_b"),
            pcos.alias("cosine"),
        )
        .where(F.col("cosine") > threshold)
    )

    # layer 1: exact-group star edges (identical vectors -> cosine via
    # the same dot/(sqrt*sqrt) formula, dot == nsq, so the double agrees
    # bit-for-bit with the oracle's expression)
    stars = (
        members.where(F.col("vec_id") != F.col("rep_id"))
        .join(qv.select("vec_id", "nsq"), "vec_id")
        .where(F.col("nsq") > 0)
        .select(
            F.col("rep_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            cosine_q(F.col("nsq"), F.col("nsq"), F.col("nsq")).alias("cosine"),
        )
    )
    return matmul.unionByName(ppairs).unionByName(stars)


@register(
    "sim_bucket_occupancy_stats",
    oracle=f"""
WITH {_Q_CTE},
{_SPLIT_BUCKET_CTES},
socc AS (SELECT bucket, MAX(bucket_n) AS bucket_n FROM srbk GROUP BY bucket)
SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_vectors,
       CAST((SELECT COUNT(*) FROM sgrp) AS BIGINT) AS n_distinct,
       CAST((SELECT MAX(group_n) FROM sgrp) AS BIGINT) AS max_group_n,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(bucket_n) AS BIGINT) AS max_occupancy,
       CAST(SUM(CASE WHEN bucket LIKE '%.%' THEN 1 ELSE 0 END) AS BIGINT)
           AS split_buckets,
       CAST(SUM(CASE WHEN bucket_n > {SIM_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
           AS hot_buckets,
       CAST(COALESCE(SUM(CASE WHEN bucket_n > {SIM_MAX_BUCKET} THEN bucket_n END), 0) AS BIGINT)
           AS hot_rep_rows,
       CAST(COALESCE(SUM(CASE WHEN bucket_n > {SIM_MAX_BUCKET} THEN bucket_n - 1 END), 0) AS BIGINT)
           AS recovered_probes
FROM socc
""",
    doc=(
        "Occupancy accounting for the embedding exact-collapse + "
        "recursive-split path — the twin of dedup_lsh_bucket_stats: "
        "corpus size vs DISTINCT vectors (the exact collapse's yield and "
        "the largest identical group), final bucket count, max distinct-"
        "vector occupancy, how many buckets needed at least one split "
        f"level, how many full-depth buckets still exceed {SIM_MAX_BUCKET} "
        "(the probe backstop's targets), the representative rows in them, "
        "and the per-bucket (bucket_n - 1) probe rows the recovery path "
        "emits in their place — an upper bound on distinct recovered "
        "pairs (a probe below the cosine threshold emits nothing). "
        "Nothing is dropped from detection: hot-bucket members stay "
        "reachable via their bucket anchor, and exact-group members via "
        "star edges. A lazy plan cannot side-effect this accounting, so "
        "it is its own one-action diagnostic (the skew smoke asserts on "
        "it against an engineered 20k-identical-vector mega-cluster)."
    ),
)
def sim_bucket_occupancy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    grp_stats = (
        qv.groupBy("qe")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .agg(
            F.sum("group_n").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("group_n").alias("max_group_n"),
        )
    )
    occ = rep_sign_buckets(spark, sf_dir).groupBy("bucket").agg(
        F.max("bucket_n").alias("bucket_n")
    )
    hot = F.col("bucket_n") > SIM_MAX_BUCKET
    return (
        occ.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_n").alias("max_occupancy"),
            F.sum(F.col("bucket").contains(".").cast("long")).alias("split_buckets"),
            F.sum(hot.cast("long")).alias("hot_buckets"),
            F.coalesce(
                F.sum(F.when(hot, F.col("bucket_n"))), F.lit(0)
            ).alias("hot_rep_rows"),
            F.coalesce(
                F.sum(F.when(hot, F.col("bucket_n") - 1)), F.lit(0)
            ).alias("recovered_probes"),
        )
        .crossJoin(F.broadcast(grp_stats))
        .select(
            "n_vectors",
            "n_distinct",
            "max_group_n",
            "n_buckets",
            "max_occupancy",
            "split_buckets",
            "hot_buckets",
            "hot_rep_rows",
            "recovered_probes",
        )
    )


# ------------------------------------------------- SemDeDup keep manifest

#: cosine bar for "semantically the same" on THIS corpus. Real embedding
#: models put near-dups at ~0.95+; the driver's synthetic random vectors
#: top out near 0.5, so the bar is calibrated to the corpus (the operator
#: shape — threshold graph -> components -> canonical manifest — is the
#: production one; only the constant moves).
SEMDEDUP_COSINE = 0.4


#: the semantic-component CTE chain (split-bucket pairs above the
#: SemDeDup bar -> recursive min-label closure) shared by the keep-list
#: and the semantic-aware split oracles — one definition, two consumers
SEMANTIC_COMP_CTES = f"""{_PAIR_CTES},
pairs AS (
    SELECT vec_a, vec_b FROM spairs WHERE cosine >= {SEMDEDUP_COSINE}
),
edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM pairs
    UNION ALL
    SELECT vec_b, vec_a FROM pairs
),
walk(node, reach) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
),
comp AS (
    SELECT node AS vec_id, CAST(MIN(reach) AS BIGINT) AS component
    FROM walk GROUP BY node
)"""


@register(
    "dedup_semantic_keep_list",
    oracle=f"""
WITH RECURSIVE {_Q_CTE},
{SEMANTIC_COMP_CTES},
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT c.vec_id, c.component, (c.vec_id = c.component) AS keep, s.cluster_size
FROM comp c JOIN sizes s ON s.component = c.component
""",
    doc=(
        "SemDeDup end-to-end (Abbas et al. '23 shape): the collapse+"
        "split+probe pair certificate above the semantic-dup bar -> "
        "connected components via the shared min_label_components "
        "(operators/dedup.py) -> a per-vector keep manifest (canonical = "
        "smallest vec_id per cluster) with cluster sizes from a "
        "two-phase groupBy+join. This is the embedding twin of "
        "dedup_keep_list: the artifact a training build consumes to drop "
        "semantic duplicates. Every vector verdicts exactly once at ANY "
        "skew: identical copies reach their representative through star "
        "edges, hot-bucket members through anchor probes (the skew smoke "
        "pins a 20,002-copy mega-group landing as ONE component with "
        "zero dropped rows). Compute is O(sum live-bucket^2) + O(groups "
        "+ probes); components finish on the driver when the pair graph "
        "fits it, after O(log #components) contraction rounds otherwise. "
        "The oracle is the recursive-CTE closure of the same thresholded "
        "pair graph."
    ),
)
def dedup_semantic_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import min_label_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim_bucketed_cosine_pairs(spark, sf_dir).where(
        F.col("cosine") >= SEMDEDUP_COSINE
    )
    comp = min_label_components(
        pairs, emb.select("vec_id"), id_col="vec_id", a_col="vec_a", b_col="vec_b"
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        "vec_id",
        "component",
        (F.col("vec_id") == F.col("component")).alias("keep"),
        "cluster_size",
    )


# ------------------------------------------------- k-means (IVF training)


def _ivf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared post-seed-round coarse centroids (cid, c_qe, c_nsq, n),
    n being each cell's seed-round member count: one
    :func:`_lloyd_round` from the first N_CELLS vectors, memoized per
    (session, corpus snapshot, N_CELLS). Eight registered queries (ivf
    trained, ivfpq topk, both ivfpq recall evals, nprobe sweep, kmeans
    train, cluster-balanced sample, cluster term profile) and the
    residual-index build train from it; each used to rebuild it per
    query construction: one full assign pass, the per-dim sums aggregate
    and a localCheckpoint job. Deliberately NOT persisted to the index
    store: the residual index already persists its copy — the memo is a
    session-RAM localCheckpoint exactly like the per-query pin it
    replaces, just shared."""
    from .. import io as _io

    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    seeds = qv.where(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("qe").alias("c_qe"),
        F.col("nsq").alias("c_nsq"),
    )
    built = _lloyd_round(qv, seeds)
    if not _io.MEMO_ENABLED:  # plan-audit escape hatch: real build plan
        return built
    return _io.session_memo(
        spark, sf_dir, "embeddings", "ivf_cents", (N_CELLS,), built.localCheckpoint
    )


@register(
    "sim_ann_kmeans_train",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
counts AS (SELECT cell, COUNT(*) AS n_members FROM ivfa1 GROUP BY 1),
carr AS ({_book_csv_sql("c_b1")})
SELECT c.cid AS cell,
       CAST(COALESCE(t.n_members, 0) AS BIGINT) AS n_members,
       c.centroid_sum
FROM carr c LEFT JOIN counts t ON t.cell = c.cid
""",
    doc=(
        "Spherical k-means training for the IVF index — ONE full Lloyd "
        "round, fully deterministic and oracle-exact: seed centroids are "
        f"the first {N_CELLS} vectors (sim_ann_ivf's convention), vectors "
        "assign by argmax quantized cosine (cos desc, cid asc tie-break), "
        "and the centroid update is the EXACT int64 elementwise sum of "
        "members — cosine is scale-invariant, so the sum vector IS the "
        "mean direction and no float averaging ever happens (float means "
        "are order-sensitive and would break cross-engine parity). "
        "Output: surviving cells after the update with their reassignment "
        "counts (cells can empty out) and integer centroid sums. Each "
        "round is two shuffles (per-dim sums + counts); more rounds chain "
        "the same stage. At 100 TB the centroid sums need periodic "
        "rescaling to dodge int64 dot overflow past ~1e5-member cells at "
        "this quantization — the standard renormalize step; the oracle "
        "unrolls the identical round as CTEs. The sum vector serializes "
        "comma-joined (exact int64 text, driver-canonical); "
        "kmeans_train_frame is the array-typed composition surface."
    ),
)
def sim_ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.canon import csv_longs

    return kmeans_train_frame(spark, sf_dir).select(
        "cell", "n_members", csv_longs("centroid_sum").alias("centroid_sum")
    )


def kmeans_train_frame(
    spark: SparkSession, sf_dir: str, n_rounds: int = 1
) -> DataFrame:
    """(cell, n_members, centroid_sum array<long>) — the array-typed
    training loop; the registered query serializes the sum vector."""
    assert n_rounds >= 1, "kmeans_train_frame needs at least one round"
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    # round 1 is the shared seed-round memo (r15) — identical output to
    # the inline seed assign + update; extra rounds chain the same stage
    cents = _ivf_cents(spark, sf_dir)
    for _ in range(n_rounds - 1):
        # K rows per round: checkpoint truncates the per-round lineage so
        # deep trainings don't accumulate a nested-broadcast DAG
        cents = _lloyd_round(qv, cents).localCheckpoint()
    counts = _nearest_cells(qv, cents).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        cents.select(F.col("cid").alias("cell"), F.col("c_qe").alias("centroid_sum"))
        .join(counts, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
            "centroid_sum",
        )
    )


@register(
    "sim_ann_ivf_trained",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_ivf_probe_sql("ivfa1", "c_b1")}
""",
    doc=(
        "The closed ANN loop: train -> index -> probe. Coarse-quantizer "
        "centroids come from one deterministic Lloyd round "
        "(sim_ann_kmeans_train's exact int64 member sums) instead of raw "
        "seed vectors; the probe stage is byte-identical to sim_ann_ivf "
        "(shared _ivf_probe). Trained cells fit the data distribution, so "
        "at production scale the same probe count recovers more true "
        "neighbors — the recall/probe tradeoff sim_ann_recall_eval "
        "measures. Oracle splices the shared k-means round CTEs into the "
        "IVF probe SQL."
    ),
)
def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_probe(_quantized(spark, sf_dir), _ivf_cents(spark, sf_dir))


# ------------------------------------------- scalar-quantized (SQ8) ANN

#: the SQ8 CTE block appended to _Q_CTE: per-dimension min/max codebook,
#: 8-bit codes, and the x255-scaled reconstruction R (all exact integers)
_SQ8_CTE = """
dims AS (
    SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY i
),
enc AS (
    SELECT ex.vec_id, ex.i,
           d.mn * 255
           + CAST(floor(CAST((ex.v - d.mn) * 255 AS DOUBLE)
                        / greatest(d.mx - d.mn, 1)) AS BIGINT)
             * greatest(d.mx - d.mn, 1) AS r
    FROM ex JOIN dims d ON ex.i = d.i
),
rn AS (SELECT vec_id, SUM(r * r) AS rnsq FROM enc GROUP BY vec_id),
sq8_topk AS (
    SELECT e.vec_id,
           CAST(SUM(e.r * qq.v) AS DOUBLE)
               / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(MIN(rn.rnsq) AS DOUBLE)))
               AS cosine_sq8
    FROM enc e
    JOIN (SELECT i, v FROM ex WHERE vec_id = 0) qq ON e.i = qq.i
    JOIN rn ON rn.vec_id = e.vec_id
    CROSS JOIN (SELECT nsq FROM norms WHERE vec_id = 0) qn
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id, qn.nsq
    ORDER BY cosine_sq8 DESC, e.vec_id
    LIMIT 10
)
"""


def _sq8_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scored by asymmetric SQ8 distance: every vector int8-encoded
    against a per-dimension min/max codebook derived IN-PLAN from the
    corpus (64-row aggregate -> one broadcast row, no driver job), the raw
    query scored against the x255-scaled integer reconstruction."""
    qv = _quantized(spark, sf_dir)
    dims = (
        qv.select(F.posexplode("qe").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    stats = dims.agg(
        F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("st")
    ).select(
        F.transform("st", lambda s: s["mn"]).alias("mins"),
        F.transform("st", lambda s: s["mx"]).alias("maxs"),
    )
    query = _query_block(qv)
    mins, maxs = F.col("mins"), F.col("maxs")

    def recon(v, i):
        mn, mx = F.get(mins, i), F.get(maxs, i)
        rng = F.greatest(mx - mn, F.lit(1))
        code = F.floor(((v - mn) * 255).cast("double") / rng).cast("long")
        return mn * 255 + code * rng

    return (
        qv.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(query))
        .withColumn("r_vec", F.transform("qe", recon))
        .select(
            "vec_id",
            cosine_q(
                dot_q(F.col("r_vec"), F.col("q_qe")),
                F.col("q_nsq"),
                norm_sq_q(F.col("r_vec")),
            ).alias("cosine_sq8"),
        )
    )


@register(
    "sim_ann_sq8_topk",
    oracle=f"""
WITH {_Q_CTE},
{_SQ8_CTE}
SELECT vec_id, cosine_sq8 FROM sq8_topk
""",
    doc=(
        "Scalar-quantized (SQ8) ANN top-k: each dimension affine-encoded to "
        "an 8-bit code against a per-dimension min/max codebook derived from "
        "the corpus itself — the memory-side scale play (a 100 TB float32 "
        "embedding store scans as 25 TB of int8 codes; recall loss is "
        "measured by sim_ann_sq8_recall_eval, the SQ twin of the IVF/LSH "
        "pruning evals). The codebook is a 64-row in-plan aggregate carried "
        "as ONE broadcast row — no driver-side job (plan-laziness pinned "
        "with the rest of the cosine family). Scoring is asymmetric "
        "(raw query x reconstructed corpus, the ADC convention): all "
        "integer math on the x255-scaled reconstruction, one IEEE "
        "double division at the end, so ranking is bit-identical across "
        "engines; the only float step shared with encoding is an exact-"
        "numerator double division + floor, identical in both."
    ),
)
def sim_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _sq8_scored(spark, sf_dir)
        .orderBy(F.desc("cosine_sq8"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_sq8_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_SQ8_CTE},
{_TRUTH_CTES}
{_recall_sql("sq8_topk")}""",
    doc=(
        "Recall@10 of the SQ8-compressed scan against the exact brute-force "
        "ground truth — the number that decides whether 4x vector "
        "compression ships. Same two-list overlap methodology as "
        "sim_ann_recall_eval (exact quantized cosine, total-order "
        "tiebreaks, integer overlap count)."
    ),
)
def sim_ann_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_at_10(spark, sf_dir, sim_ann_sq8_topk(spark, sf_dir))


# --------------------------------------------- product quantization (PQ)

#: PQ geometry: M subspaces x SUBDIM dims, K codebook entries each. 8-bit
#: analog: a 64-dim float32 vector (256 B) compresses to M codes (4 B
#: here; 2^3 codes per subspace on the test corpus — production uses
#: K=256 for 1 byte/subspace, same plan)
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8


def _slice_sql(src: str, m: int) -> str:
    """Subspace ``m`` of the long-form stream ``src`` (vec_id, i, v),
    its dimensions renumbered from 1."""
    lo, hi = m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM
    return f"SELECT vec_id, i - {lo} AS i, v FROM {src} WHERE i > {lo} AND i <= {hi}"


def _pq_sub_sql(m: int, src: str, p: str, nq: int) -> str:
    """One subspace of a PQ index trained on the stream ``src`` (the raw
    ``ex`` or the residual ``rex``), its CTEs named {p}{m}_*: the slice
    e with its norms en, one Lloyd round (_lloyd_round_sql: b0, a0, b1,
    b1_cnt), the codes and the ADC lookup table qd — the raw query
    subvectors' (vec_id < nq) dots with the trained codebook."""
    s = f"{p}{m}_"
    return f"""
{s}e AS ({_slice_sql(src, m)}),
{s}en AS (SELECT vec_id, SUM(v * v) AS nsq FROM {s}e GROUP BY vec_id),
{_lloyd_round_sql(s, f"{s}e", f"{s}en", PQ_K)},
{s}code AS ({_nearest_cells_sql(f"{s}b1", f"{s}e", f"{s}en")}),
{s}qd AS ({_book_dots_sql(f"({_slice_sql('ex', m)})", f"{s}b1", f"e.vec_id < {nq}")})"""


def _adc_scored_sql(p: str, nq: int, cand: str = "", residual: bool = False) -> str:
    """The SQL twin of the ADC scoring (:func:`_pivot_m` +
    :func:`_adc_fold`) over the {p}{m}_* subspace chains: (qid, vec_id,
    adot, rnsq) of each query (vec_id < nq) and corpus row (vec_id >=
    nq), restricted to the (qid, vec_id) CTE ``cand`` if given. The
    per-subspace terms add left to right in m; ``residual`` starts from
    the coarse-cell terms (qc, cqnt_nsq) and adds the 2 crd / cnt cross
    term."""
    s = [f"{p}{m}_" for m in range(PQ_M)]
    code, qd = f"{s[0]}code", f"{s[0]}qd"
    adot = [f"CAST({x}qd.dot AS DOUBLE) / {x}b1_cnt.cnt" for x in s]
    rnsq = [f"CAST({x}b1_nsq.cnsq AS DOUBLE) / ({x}b1_cnt.cnt * {x}b1_cnt.cnt)" for x in s]
    joins = [f"JOIN {x}code ON {x}code.vec_id = {code}.vec_id" for x in s[1:]]
    joins += [
        f"JOIN {x}qd ON {x}qd.cid = {x}code.cell AND {x}qd.vec_id = {qd}.vec_id" for x in s[1:]
    ]
    joins += [f"JOIN {x}b1_{t} ON {x}b1_{t}.cid = {x}code.cell" for x in s for t in ("cnt", "nsq")]
    if residual:
        adot = ["CAST(qc.dot AS DOUBLE)", *adot]
        rnsq = ["CAST(cqnt_nsq.cnsq AS DOUBLE)"] + [
            f"(2 * CAST({x}crd.dot AS DOUBLE) / {x}b1_cnt.cnt + {r})" for x, r in zip(s, rnsq)
        ]
        joins += [
            f"JOIN ivfa1 a ON a.vec_id = {code}.vec_id",
            f"JOIN qc ON qc.cid = a.cell AND qc.vec_id = {qd}.vec_id",
            "JOIN cqnt_nsq ON cqnt_nsq.cid = a.cell",
        ] + [f"JOIN {x}crd ON {x}crd.cid = {x}code.cell AND {x}crd.vec_id = a.cell" for x in s]
    if cand:
        joins.append(f"JOIN {cand} c ON c.vec_id = {code}.vec_id AND c.qid = {qd}.vec_id")
    sep = "\n    "
    return f"""
    SELECT {qd}.vec_id AS qid, {code}.vec_id,
           ({" + ".join(adot)}) AS adot,
           ({" + ".join(rnsq)}) AS rnsq
    FROM {code}
    JOIN {qd} ON {qd}.cid = {code}.cell
    {sep.join(joins)}
    WHERE {code}.vec_id >= {nq}"""


def _adc_topk_sql(scored: str, k: int) -> str:
    """(qid, vec_id, cosine_pq): each query's ``k`` best rows of an
    ADC-scored CTE (_adc_scored_sql) in (cosine_pq desc, vec_id) order;
    a zero reconstruction norm never ranks."""
    return f"""
    SELECT qid, vec_id, cosine_pq FROM (
        SELECT qid, vec_id, cosine_pq,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_pq DESC, vec_id) AS rk
        FROM (
            SELECT s.qid, s.vec_id,
                   s.adot / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(s.rnsq)) AS cosine_pq
            FROM {scored} s JOIN norms qn ON qn.vec_id = s.qid
            WHERE s.rnsq > 0
        )
    ) WHERE rk <= {k}"""


def _pq_scored_sql_block(nq: int = 1, probe: bool = False) -> str:
    """The SQL twin of :func:`_pq_scored`: the raw-subvector PQ index
    (_pq_sub_sql), the ADC scores pq_scored of each query (vec_id < nq)
    and each query's top 10 pq_topk. ``probe`` scores only the corpus
    rows of each query's nearest trained cell (pcand, the IVF-PQ
    composition; needs _IVF_ASSIGN_CTES)."""
    cand = f"pcand AS ({_probe_sql('ivfa1', 'c_b1', 1, nq)}),\n" if probe else ""
    return f"""{", ".join(_pq_sub_sql(m, "ex", "p", nq) for m in range(PQ_M))},
{cand}pq_scored AS ({_adc_scored_sql("p", nq, "pcand" if probe else "")}),
pq_topk AS ({_adc_topk_sql("pq_scored", 10)})"""


_PQ_SCORED_SQL = _pq_scored_sql_block()


def _subspace_rows(frame: DataFrame, col: str, keep: tuple, name: str = "qe") -> DataFrame:
    """(*keep, m, ``name``): one row per fixed subspace slice of the
    64-dim quantized array ``col`` — the long form (raw or residual
    vectors, their queries and the quantized coarse centroids) every
    PQ codebook, code and ADC dot is keyed by."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("s"),
            )
            for m in range(PQ_M)
        ]
    )
    return frame.select(*keep, F.explode(subs).alias("g")).select(
        *keep, F.col("g.m").alias("m"), F.col("g.s").alias(name)
    )


def _query_book_dots(book: DataFrame, q_sub: DataFrame) -> DataFrame:
    """The ADC lookup table (q_id, m, cell, qdot, cnt, cnsq): every query
    subvector (q_id, m, q_s) dotted exactly with each entry of its
    subspace's codebook (m, cid, c_qe, c_nsq, cnt), beside the entry's
    member count and squared norm."""
    return book.join(F.broadcast(q_sub), "m").select(
        "q_id",
        "m",
        F.col("cid").alias("cell"),
        dot_q(F.col("c_qe"), F.col("q_s")).alias("qdot"),
        "cnt",
        F.col("c_nsq").alias("cnsq"),
    )


def _pivot_m(contrib: DataFrame, keys: list, cols: tuple) -> DataFrame:
    """One row per ``keys`` with each per-subspace column c of
    ``contrib`` pivoted to fixed columns c0..c{PQ_M-1}, so the ADC fold
    adds them in m order (float addition commutes but does NOT
    associate — a SUM aggregate would be partitioning-dependent)."""
    return contrib.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("m") == m, F.col(c))).alias(f"{c}{m}")
            for m in range(PQ_M)
            for c in cols
        ]
    )


def _adc_fold(
    adot: F.Column | None = None, rnsq: F.Column | None = None, cross: bool = False
) -> tuple[F.Column, F.Column]:
    """The fixed-order ADC sums over pivoted subspace columns: the query
    dot adds qdot_m / cnt_m and the reconstruction norm cnsq_m / cnt_m^2
    (plus 2 crdot_m / cnt_m when ``cross``) left to right in m, after
    the starting terms ``adot`` / ``rnsq`` if given. SQL twin:
    :func:`_adc_scored_sql`."""
    for m in range(PQ_M):
        cnt = F.col(f"cnt{m}")
        a = F.col(f"qdot{m}").cast("double") / cnt
        r = F.col(f"cnsq{m}").cast("double") / (cnt * cnt)
        if cross:
            r = 2 * F.col(f"crdot{m}").cast("double") / cnt + r
        adot = a if adot is None else adot + a
        rnsq = r if rnsq is None else rnsq + r
    return adot, rnsq


def _pq_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the per-subspace PQ codebooks in LONG FORM: one row per
    (vector, subspace), so every training stage runs ONCE over all M
    subspaces together (one assign window keyed (vec_id, m), one per-dim
    sums aggregate keyed (m, cell, i)) instead of M duplicated plan
    branches re-reading the corpus. Returns (subs, book): the
    checkpointed sliced projection (vec_id, full_nsq, m, qe, nsq) — each
    subvector under the vector-row names, so it ranks and sums through
    the same kernels — and the trained codebook (m, cid, c_qe, c_nsq,
    cnt)."""
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    subs_pure = _subspace_rows(
        qv.withColumnRenamed("nsq", "full_nsq"), "qe", ("vec_id", "full_nsq")
    ).withColumn("nsq", norm_sq_q(F.col("qe")))
    from .. import io as _io

    def train():
        subs = subs_pure.localCheckpoint()
        return subs, _pq_train_subs(subs)  # checkpoints the K-bounded book

    # session memo (optimization r15): six registered queries (pq train/
    # topk/recall, ivfpq topk, both ivfpq recall evals) re-ran the sliced-
    # projection checkpoint, the seed assignment window, the per-dim sums
    # aggregate and the codebook checkpoint per construction; the residual
    # codebooks already ride the persisted residual index, these did not
    return _io.session_memo(
        spark, sf_dir, "embeddings", "pq_train", (PQ_M, PQ_K, PQ_SUBDIM), train
    )


def _pq_train_subs(subs: DataFrame) -> DataFrame:
    """One deterministic spherical Lloyd round over ANY long-form subspace
    frame (vec_id, m, qe, nsq) -> checkpointed codebook (m, cid, c_qe,
    c_nsq, cnt): the first PQ_K subvectors seed each subspace, and
    :func:`_nearest_cells` / :func:`_centroid_sums` keyed by m assign and
    re-center all M subspaces in one pass. Plain PQ (raw subvectors) and
    residual PQ (coarse-residual subvectors) both train through it."""
    seeds = subs.where(F.col("vec_id") < PQ_K).select(
        "m",
        F.col("vec_id").alias("cid"),
        F.col("qe").alias("c_qe"),
        F.col("nsq").alias("c_nsq"),
    )
    members = subs.join(_nearest_cells(subs, seeds, 1, ("m",)), ["vec_id", "m"])
    return (
        _centroid_sums(members, ("m",)).withColumnRenamed("n", "cnt").localCheckpoint()
    )


@register(
    "sim_ann_pq_train",
    oracle=f"""
WITH {_Q_CTE},
{", ".join(_pq_sub_sql(m, "ex", "p", 1) for m in range(PQ_M))}
{" UNION ALL ".join(
    f"SELECT {m} AS m, s.cid AS cell, CAST(c.cnt AS BIGINT) AS n_members, s.centroid_sum "
    f"FROM ({_book_csv_sql(f'p{m}_b1')}) s JOIN p{m}_b1_cnt c ON c.cid = s.cid"
    for m in range(PQ_M))}
""",
    doc=(
        "The PQ index-training artifact — what a production build PERSISTS "
        "(the scan queries then only encode + score): per-subspace trained "
        "codebooks as exact integer centroid sums with member counts, the "
        "PQ twin of sim_ann_kmeans_train's output. Same deterministic "
        "spherical Lloyd round; the oracle unrolls the identical training "
        "per subspace and unions the books. Sum vectors serialize "
        "comma-joined (exact int64 text, driver-canonical)."
    ),
)
def sim_ann_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.canon import csv_longs

    _subs, book = _pq_train(spark, sf_dir)
    return book.select(
        "m",
        F.col("cid").alias("cell"),
        F.col("cnt").cast("long").alias("n_members"),
        csv_longs("c_qe").alias("centroid_sum"),
    )


def _pq_scored(
    spark: SparkSession,
    sf_dir: str,
    candidates: DataFrame | None = None,
    nq: int = 1,
) -> DataFrame:
    """Corpus scored by spherical-PQ asymmetric distance: per subspace,
    one deterministic Lloyd round trains an integer-sum codebook (the
    sim_ann_kmeans_train convention — cosine is scale-invariant, so sums
    ARE mean directions and nothing is ever float-averaged), vectors
    encode to their argmax-cosine code, and the query scores against the
    mean reconstruction sum/count — M exact integer dots, one fixed-order
    double combination, bit-identical to the unrolled oracle.

    ``candidates`` (a (q_id, vec_id) frame) restricts SCORING to a
    pruned set — the IVF-PQ composition: codes exist corpus-wide (in
    production they are precomputed at ingest), but the ADC arithmetic
    and the top-k ranking touch only the probed cell's vectors.

    ``nq`` generalizes the query dimension (VERDICT r5 item 3): vectors
    with vec_id < nq are the query block, the rest the corpus; output
    carries (q_id, vec_id, cosine_pq). nq=1 IS the original single-query
    semantics (q_id always 0 — callers drop it), so the single-query
    oracles stay bit-identical while the batch eval shares the one
    trained codebook across all queries instead of retraining."""
    subs, book = _pq_train(spark, sf_dir)
    codes = _nearest_cells(subs, book, 1, ("m",))
    q_sub = subs.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"), "m", F.col("qe").alias("q_s")
    )
    contrib = codes.join(_query_book_dots(book, q_sub), ["m", "cell"])
    out = _pivot_m(contrib, ["q_id", "vec_id"], ("qdot", "cnt", "cnsq"))
    adot, rnsq = _adc_fold()
    q_nsq = subs.where((F.col("vec_id") < nq) & (F.col("m") == 0)).select(
        F.col("vec_id").alias("q_id"), F.col("full_nsq").alias("q_nsq")
    )
    scored = out.where(F.col("vec_id") >= nq)
    if candidates is not None:
        scored = scored.join(candidates.select("q_id", "vec_id"), ["q_id", "vec_id"])
    return (
        scored.join(F.broadcast(q_nsq), "q_id")
        .select(
            "q_id",
            "vec_id",
            (adot / (F.sqrt(F.col("q_nsq").cast("double")) * F.sqrt(rnsq))).alias(
                "cosine_pq"
            ),
        )
    )


@register(
    "sim_ann_pq_topk",
    oracle=f"""
WITH {_Q_CTE},
{_PQ_SCORED_SQL}
SELECT vec_id, cosine_pq FROM pq_topk
""",
    doc=(
        f"Product-quantization ANN top-k ({PQ_M}x{PQ_SUBDIM}-dim subspaces, "
        f"{PQ_K}-entry codebooks): the memory endgame past SQ8 — a 64-dim "
        "float32 vector collapses to M sub-codes (32x+ compression at "
        "production K=256), scored asymmetrically (raw query x per-"
        "subspace mean reconstruction, Jegou et al. 2011). Codebooks train "
        "with the engine's deterministic spherical Lloyd round (integer "
        "sum-vector centroids, argmax quantized cosine with cid "
        "tie-break), so training, encoding, and scoring are ALL "
        "oracle-exact — the oracle unrolls the full per-subspace train/"
        "encode/score as CTEs. Per-subspace ADC terms are exact integer "
        "dots divided by member counts, combined in one fixed-order "
        "double expression. sim_ann_pq_recall_eval measures what the "
        "compression costs."
    ),
)
def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pq_scored(spark, sf_dir)
        .drop("q_id")
        .orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_pq_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_PQ_SCORED_SQL},
{_TRUTH_CTES}
{_recall_sql("pq_topk")}""",
    doc=(
        "Recall@10 of the PQ-compressed scan against exact brute-force "
        "ground truth — the compression/recall tradeoff number, same "
        "two-list methodology as the SQ8 and LSH evals. PQ at this tiny "
        "K recalls less than SQ8 by design (8 centroids per subspace is "
        "a 32x coarser code than 256 scalar levels) — the eval is what "
        "makes that an informed trade, not a surprise."
    ),
)
def sim_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_at_10(spark, sf_dir, sim_ann_pq_topk(spark, sf_dir))


@register(
    "sim_ann_ivfpq_topk",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_pq_scored_sql_block(probe=True)}
SELECT vec_id, cosine_pq FROM pq_topk
""",
    doc=(
        "IVF-PQ — the production ANN architecture (FAISS's default at "
        "billion scale), composed from this engine's own verified parts: "
        "the trained IVF coarse quantizer (one deterministic spherical "
        "Lloyd round, sim_ann_kmeans_train's exact machinery) prunes the "
        "corpus to the query's cell, and spherical PQ codes "
        "(sim_ann_pq_topk's codebooks) score ONLY the survivors with "
        "asymmetric integer-dot ADC. Candidate volume ~n/K before any "
        "distance math; scanned bytes are the PQ codes, not vectors — "
        "the two multiplicative compressions a 100 TB vector store needs "
        "at once. Every stage is oracle-exact; the oracle composes the "
        "same CTE blocks the component queries use."
    ),
)
def sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    cents = _ivf_cents(spark, sf_dir)  # shared seed-round memo (r15)
    cand = _probe(qv, cents, _nearest_cells(qv, cents), 1)
    return (
        _pq_scored(spark, sf_dir, candidates=cand)
        .drop("q_id")
        .orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------- residual IVF-PQ (the FAISS default)

#: cells the query probes in the residual composition — nprobe>1 is the
#: FAISS-default recall lever: candidates come from the top-P cells by
#: query-centroid cosine, not just the argmax cell
IVF_NPROBE = 2

#: exact-refine shortlist size: the ADC pass ranks candidates by code
#: distance, the top REFINE_R re-rank with their ORIGINAL vectors (FAISS
#: IndexRefineFlat). Index storage is unchanged — the originals live in
#: the corpus table regardless; a query reads exactly R of them
REFINE_R = 50


#: the six frames of the query-independent residual IVF-PQ index: coarse
#: centroids, integer-quantized centroids, corpus cell assignment,
#: residual PQ codebooks + codes, and the (coarse cell x residual code)
#: cross-dot table. Four registered queries train against the same
#: corpus; a production system persists this as the FAISS index file.
_IDX_PARTS = ("cents", "cq", "assign", "rbook", "rcodes", "crd")


def _residual_index(spark: SparkSession, sf_dir: str) -> dict:
    """The residual index, memoized per (session, corpus snapshot) and
    persisted to the index store as one multi-part artifact (a store
    family per frame): a fresh session reads the six frames from disk
    instead of re-running train/assign/encode (VERDICT r11 item 1)."""
    from .. import io as _io

    return _io.memo_checkpoint(
        spark,
        sf_dir,
        "embeddings",
        "residual",
        lambda: _residual_index_build(spark, sf_dir),
        extra_key=(N_CELLS, PQ_M, PQ_K),
        parts=_IDX_PARTS,
    )


def _residual_index_build(spark: SparkSession, sf_dir: str) -> dict:
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    # the post-seed-round centroids and their seed-round member counts n
    # come from the shared session memo: one build per session
    cents = _ivf_cents(spark, sf_dir)
    cq = (
        cents.select(
            "cid",
            F.transform(
                "c_qe",
                lambda sv: F.floor(
                    (2 * sv + F.col("n")).cast("double") / (2 * F.col("n"))
                ).cast("long"),
            ).alias("cq"),
        )
        .withColumn("cqn", norm_sq_q(F.col("cq")))
        .localCheckpoint()
    )
    assign = _nearest_cells(qv, cents).localCheckpoint()
    # exact integer residuals at vector scale
    res = (
        qv.join(assign, "vec_id")
        .join(F.broadcast(cq.select(F.col("cid").alias("cell"), "cq")), "cell")
        .select(
            "vec_id", "cell", F.zip_with("qe", "cq", lambda a, b: a - b).alias("re")
        )
    )
    rsubs = (
        _subspace_rows(res, "re", ("vec_id",))
        .withColumn("nsq", norm_sq_q(F.col("qe")))
        .localCheckpoint()
    )
    rbook = _pq_train_subs(rsubs)
    rcodes = _nearest_cells(rsubs, rbook, 1, ("m",)).localCheckpoint()
    crd = (
        _subspace_rows(cq.withColumnRenamed("cid", "cell"), "cq", ("cell",), "cs")
        .join(rbook.select("m", F.col("cid").alias("rcell"), "c_qe"), "m")
        .select("cell", "m", "rcell", dot_q(F.col("cs"), F.col("c_qe")).alias("crdot"))
        .localCheckpoint()
    )
    return {
        "cents": cents,
        "cq": cq,
        "assign": assign,
        "rbook": rbook,
        "rcodes": rcodes,
        "crd": crd,
    }


def _ivf_residual_scored(
    spark: SparkSession, sf_dir: str, nq: int = 1
) -> DataFrame:
    """Residual IVF-PQ scoring — the composition FAISS actually defaults
    to: the coarse quantizer's INTEGER-QUANTIZED centroid c~ (per-dim
    floor((2*S + n) / (2*n)), the portable exact half-up grammar, so
    residuals live at the SAME quantized scale as vectors — no n-scaled
    ints, no overflow at depth) is subtracted from every vector, spherical
    PQ trains on the RESIDUALS (bit-identical _pq_train_subs machinery),
    and the ADC decomposes against the exact reconstruction
    x^ = c~ + r^:  q.x^ = q.c~ + sum_m q_m.Rsum_m/Rcnt_m and
    ||x^||^2 = ||c~||^2 + sum_m (2 c~_m.Rsum_m/Rcnt_m + ||Rsum_m||^2/Rcnt_m^2)
    — every inner product an exact int64, one fixed-order double
    combination, so the whole composition stays oracle-exact. Residual
    codes have far less variance than raw subvectors (the coarse cell
    explains most of the vector), which is why this recalls more at the
    SAME compression — sim_ann_ivfpq_recall_eval measures both. Each
    query probes its IVF_NPROBE nearest cells.

    ``nq`` (VERDICT r5 item 3): vec_id < nq form the query block, the
    rest the corpus; output carries (q_id, vec_id, cosine_pq). All
    training (coarse cells, quantized centroids, residual codebooks) is
    query-independent and MEMOIZED per (session, corpus snapshot) via
    :func:`_residual_index` — four registered queries (residual top-k,
    refine top-k, single and batch recall evals) share one trained
    index, the persisted-FAISS-index pattern — only the probe, ADC
    dots, and scoring fan out per query. nq=1 is the original
    single-query semantics (q_id always 0)."""
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    idx = _residual_index(spark, sf_dir)
    cents, cq, assign, rbook, rcodes, crd = (
        idx["cents"], idx["cq"], idx["assign"], idx["rbook"], idx["rcodes"], idx["crd"],
    )

    # nprobe>1: candidates from each query's top-P cells, ranked by the
    # same kernel as the assignment, so tie behavior matches
    cand = _probe(qv, cents, assign, IVF_NPROBE, nq)
    q_sub = _subspace_rows(
        qv.where(F.col("vec_id") < nq).withColumnRenamed("vec_id", "q_id"),
        "qe",
        ("q_id",),
        "q_s",
    )
    qrd = _query_book_dots(rbook, q_sub).withColumnRenamed("cell", "rcell")
    contrib = (
        rcodes.withColumnRenamed("cell", "rcell")
        .join(cand, "vec_id")
        .join(assign, "vec_id")
        .join(qrd, ["q_id", "m", "rcell"])
        .join(crd, ["cell", "m", "rcell"])
    )
    out = _pivot_m(contrib, ["q_id", "vec_id", "cell"], ("qdot", "cnt", "cnsq", "crdot"))
    cellterms = cq.crossJoin(F.broadcast(_query_block(qv, nq))).select(
        "q_id",
        F.col("cid").alias("cell"),
        dot_q(F.col("cq"), F.col("q_qe")).alias("qc"),
        "cqn",
        "q_nsq",
    )
    out = out.join(F.broadcast(cellterms), ["q_id", "cell"])
    adot, rn = _adc_fold(F.col("qc").cast("double"), F.col("cqn").cast("double"), cross=True)
    return (
        out.withColumn("adot", adot)
        .withColumn("rnsq_hat", rn)
        .where(F.col("rnsq_hat") > 0)
        .select(
            "q_id",
            "vec_id",
            (
                F.col("adot")
                / (F.sqrt(F.col("q_nsq").cast("double")) * F.sqrt(F.col("rnsq_hat")))
            ).alias("cosine_pq"),
        )
    )


def _residual_ivfpq_ctes(nq: int = 1) -> str:
    """The SQL twin of :func:`_ivf_residual_scored` (after _Q_CTE +
    _KMEANS_R1_CTES + _IVF_ASSIGN_CTES): the integer-quantized coarse
    centroids cqnt, the query-to-cqnt dots qc, the nprobe candidates
    rcand, the residual stream rex, the residual PQ index (_pq_sub_sql
    over rex) with its (coarse cell x residual code) cross-dots
    r{m}_crd, the ADC scores rpq_scored, and each query's top 10
    (rpq_topk) and refine shortlist (rpq_short) — the SAME
    decomposition the Spark side computes, term for term."""
    cqv = "(SELECT cid AS vec_id, i, cv AS v FROM cqnt)"
    crd = ",\n".join(
        f"r{m}_crd AS ({_book_dots_sql(f'({_slice_sql(cqv, m)})', f'r{m}_b1')})"
        for m in range(PQ_M)
    )
    return f"""{_codebook_sql("cqnt", '''
    SELECT x.cid, x.i, floor(CAST(2 * x.cv + c.cnt AS DOUBLE) / (2 * c.cnt))::BIGINT AS cv
    FROM c_b1 x JOIN c_b1_cnt c ON c.cid = x.cid''')},
qc AS ({_book_dots_sql("ex", "cqnt", f"e.vec_id < {nq}")}),
rcand AS ({_probe_sql("ivfa1", "c_b1", IVF_NPROBE, nq)}),
rex AS MATERIALIZED (
    SELECT e.vec_id, e.i, e.v - x.cv AS v
    FROM ex e
    JOIN ivfa1 a ON a.vec_id = e.vec_id
    JOIN cqnt x ON x.cid = a.cell AND x.i = e.i
),
{", ".join(_pq_sub_sql(m, "rex", "r", nq) for m in range(PQ_M))},
{crd},
rpq_scored AS ({_adc_scored_sql("r", nq, "rcand", residual=True)}),
rpq_topk AS ({_adc_topk_sql("rpq_scored", 10)}),
rpq_short AS ({_adc_topk_sql("rpq_scored", REFINE_R)})"""


_RPQ_CTES = _residual_ivfpq_ctes()


@register(
    "sim_ann_ivfpq_residual_topk",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_RPQ_CTES}
SELECT vec_id, cosine_pq FROM rpq_topk
""",
    doc=(
        "Residual IVF-PQ top-k — the composition FAISS actually defaults "
        "to, upgraded from sim_ann_ivfpq_topk on both axes the r4 verdict "
        f"named: PQ codebooks train on COARSE-CELL RESIDUALS (v - c~, "
        "where c~ is the integer-quantized centroid floor((2S+n)/(2n)) — "
        "residuals live at vector scale, so every downstream dot stays "
        "exact int64), and the query probes its top-"
        f"{IVF_NPROBE} cells instead of one. ADC scores against the exact "
        "reconstruction x^ = c~ + Rsum/Rcnt with the decomposition "
        "q.x^ = q.c~ + sum_m q_m.Rsum_m/Rcnt_m (norms likewise), every "
        "inner product integer-exact and the double combination fixed-"
        "order — the full composition unrolls as oracle CTEs. Residual "
        "codes carry far less variance than raw subvectors at the SAME "
        "bit budget; sim_ann_ivfpq_recall_eval measures the gain."
    ),
)
def sim_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ivf_residual_scored(spark, sf_dir)
        .drop("q_id")
        .orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_ann_ivfpq_refine_topk",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_RPQ_CTES},
{_TRUTH_CTES}
{_cand_topk_sql("rpq_short")}
""",
    doc=(
        "IVF-PQ with exact refine — the full production retrieval stack "
        "(FAISS IndexRefineFlat over IVF-PQ): the residual-ADC pass ranks "
        f"the nprobe={IVF_NPROBE} candidate cells by code distance, the "
        f"top {REFINE_R} shortlist re-ranks with EXACT quantized cosine "
        "against the original vectors, and the final top-10 is exact over "
        "that shortlist. This is what converts candidate COVERAGE into "
        "recall: 12-bit codes cannot order near-ties, but they reliably "
        "shortlist them (sim_ann_ivfpq_recall_eval measures the jump). "
        "Index storage is unchanged; per query exactly R original vectors "
        "are read — the bounded-I/O trade a 1e9-vector store makes."
    ),
)
def sim_ann_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _refine_from_scored(spark, sf_dir, _ivf_residual_scored(spark, sf_dir))


def _refine_from_scored(
    spark: SparkSession, sf_dir: str, scored: DataFrame, nq: int = 1
) -> DataFrame:
    """Exact re-rank of the per-query top-REFINE_R of an ADC-scored
    frame — split out so sim_ann_ivfpq_recall_eval can feed ONE
    residual-scored frame to both the unrefined top-k and the refine
    stage instead of running the whole residual pipeline twice. nq=1
    keeps the original TakeOrdered(R) single-query plan and returns
    (vec_id, cosine); nq>1 ranks in per-query windows over the bounded
    candidate set and returns each query's top-10 (q_id, vec_id)."""
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    if nq == 1:
        shortlist = (
            scored.orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
            .limit(REFINE_R)
            .select("vec_id")
        )
        return (
            _exact_scored(qv.join(F.broadcast(shortlist), "vec_id"), _query_block(qv))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(10)
        )
    shortlist = _rank_le(scored, REFINE_R, "cosine_pq")
    exact = (
        qv.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(_query_block(qv, nq)), "q_id")
        .select("q_id", "vec_id", _exact_cosine().alias("cosine"))
    )
    return _rank_le(exact, 10)


def _batch_ivfpq_ctes(nq: int) -> str:
    """The batch recall layer over the nq-query plain and residual
    chains (_pq_scored_sql_block(nq, probe=True) and
    _residual_ivfpq_ctes(nq), every index trained ONCE, query-
    independent): the batch truth, each query's refined top 10 (its
    rpq_short shortlist re-ranked by exact cosine) and the per-query
    overlaps of all three compositions, bper_q. Queries are vec_id <
    nq, corpus vec_id >= nq (the sim_ann_batch_recall_eval
    convention)."""
    return f"""{_batch_truth_ctes(nq)},
brefined AS (
    SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY b.cosine DESC, c.vec_id) AS rk
        FROM rpq_short c JOIN bcos b ON b.qid = c.qid AND b.vec_id = c.vec_id
    ) WHERE rk <= 10
),
bovl_plain AS ({_overlap_per_query_sql("pq_topk", "n")}),
bovl_resid AS ({_overlap_per_query_sql("rpq_topk", "n")}),
bovl_ref AS ({_overlap_per_query_sql("brefined", "n")}),
bper_q AS (
    SELECT q.qid,
           COALESCE(p.n, 0) AS o_plain,
           COALESCE(r.n, 0) AS o_resid,
           COALESCE(f.n, 0) AS o_ref
    FROM qs q
    LEFT JOIN bovl_plain p ON p.qid = q.qid
    LEFT JOIN bovl_resid r ON r.qid = q.qid
    LEFT JOIN bovl_ref f ON f.qid = q.qid
)"""


@register(
    "sim_ann_ivfpq_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_pq_scored_sql_block(probe=True)},
{_RPQ_CTES},
{_TRUTH_CTES},
refined_topk AS ({_cand_topk_sql("rpq_short")})
SELECT CAST((SELECT COUNT(*) FROM true_topk) AS BIGINT) AS n_true,
       CAST({_overlap_sql("pq_topk")} AS BIGINT) AS n_overlap_plain,
       CAST({_overlap_sql("rpq_topk")} AS BIGINT) AS n_overlap_residual,
       CAST({_overlap_sql("refined_topk")} AS BIGINT) AS n_overlap_refined,
       CAST({_overlap_sql("pq_topk")} AS DOUBLE) / (SELECT COUNT(*) FROM true_topk)
           AS recall_at_10_plain,
       CAST({_overlap_sql("rpq_topk")} AS DOUBLE) / (SELECT COUNT(*) FROM true_topk)
           AS recall_at_10_residual,
       CAST({_overlap_sql("refined_topk")} AS DOUBLE) / (SELECT COUNT(*) FROM true_topk)
           AS recall_at_10_refined
""",
    doc=(
        "Recall@10 of ALL THREE IVF-PQ compositions against exact "
        "brute-force ground truth in ONE row — the r4 done-criterion made "
        "self-certifying: plain (raw-subvector codebooks, nprobe=1), "
        f"residual (residual codebooks, nprobe={IVF_NPROBE}), and refined "
        f"(residual shortlist of {REFINE_R} + exact re-rank) at the SAME "
        "index bit budget. The honest finding this eval records: 12-bit "
        "codes cannot out-ORDER each other on near-isotropic residuals "
        "(plain vs residual is noise-level), but the residual+nprobe pass "
        "reliably COVERS the true neighbors and the refine stage converts "
        "that coverage into recall — the measurable jump the verdict "
        "asked for. tests/test_similarity_blocks.py asserts the ordering "
        "so a regression fails loudly."
    ),
)
def sim_ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    true_topk = sim_ann_topk(spark, sf_dir).select("vec_id")
    plain = sim_ann_ivfpq_topk(spark, sf_dir).select("vec_id")
    # ONE residual pipeline feeds both the unrefined top-k and the refine
    # stage (checkpointed intermediates inside _ivf_residual_scored are
    # shared, so the coarse/residual training runs once, not twice)
    scored = _ivf_residual_scored(spark, sf_dir)
    resid = (
        scored.orderBy(F.desc("cosine_pq"), F.asc("vec_id")).limit(10).select("vec_id")
    )
    refined = _refine_from_scored(spark, sf_dir, scored).select("vec_id")
    o_plain = true_topk.join(plain, "vec_id")
    o_resid = true_topk.join(resid, "vec_id")
    o_ref = true_topk.join(refined, "vec_id")
    return (
        true_topk.agg(F.count(F.lit(1)).alias("n_true"))
        .join(F.broadcast(o_plain.agg(F.count(F.lit(1)).alias("n_overlap_plain"))))
        .join(F.broadcast(o_resid.agg(F.count(F.lit(1)).alias("n_overlap_residual"))))
        .join(F.broadcast(o_ref.agg(F.count(F.lit(1)).alias("n_overlap_refined"))))
        .select(
            "n_true",
            "n_overlap_plain",
            "n_overlap_residual",
            "n_overlap_refined",
            _recall("n_overlap_plain").alias("recall_at_10_plain"),
            _recall("n_overlap_residual").alias("recall_at_10_residual"),
            _recall("n_overlap_refined").alias("recall_at_10_refined"),
        )
    )


@register(
    "sim_ann_ivfpq_batch_recall_eval",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_pq_scored_sql_block(SIM_EVAL_NQ, probe=True)},
{_residual_ivfpq_ctes(SIM_EVAL_NQ)},
{_batch_ivfpq_ctes(SIM_EVAL_NQ)}
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * 10 AS BIGINT) AS n_true,
       CAST(SUM(o_plain) AS BIGINT) AS n_overlap_plain,
       CAST(SUM(o_resid) AS BIGINT) AS n_overlap_residual,
       CAST(SUM(o_ref) AS BIGINT) AS n_overlap_refined,
       CAST(SUM(o_plain) AS DOUBLE) / (COUNT(*) * 10) AS mean_recall_at_10_plain,
       CAST(SUM(o_resid) AS DOUBLE) / (COUNT(*) * 10) AS mean_recall_at_10_residual,
       CAST(SUM(o_ref) AS DOUBLE) / (COUNT(*) * 10) AS mean_recall_at_10_refined,
       CAST(MIN(o_ref) AS DOUBLE) / 10 AS worst_recall_at_10_refined
FROM bper_q
""",
    doc=(
        f"Batch recall@10 of ALL THREE IVF-PQ compositions over "
        f"{SIM_EVAL_NQ} queries (VERDICT r5 item 3 — the single-query "
        "eval's 0.1 recall granularity made composition comparisons "
        "noise; this is the statistically meaningful version, the "
        "sim_ann_batch_recall_eval methodology applied to the IVF-PQ "
        "stack): plain (raw-subvector codebooks, nprobe=1), residual "
        f"(residual codebooks, nprobe={IVF_NPROBE}), and refined "
        f"(residual shortlist of {REFINE_R} + exact re-rank) against "
        "per-query exact ground truth, mean + worst-tail in one row. "
        "Every index trains ONCE for all queries — the coarse quantizer, "
        "plain and residual codebooks, codes, and cell cross-dots are "
        "the query-independent CTE chains reused verbatim; only probes, "
        "query-side ADC dots, and rankings fan out per query (the same "
        "chains the single-query oracles run at nq = 1). One residual pipeline "
        "feeds both the unrefined ranking and the refine stage. "
        "tests/test_similarity_blocks.py asserts refined >= plain on the "
        "batch mean."
    ),
)
def sim_ann_ivfpq_batch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    nq = SIM_EVAL_NQ
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    queries = _query_block(qv, nq)
    truth = _rank_le(_exact_scored(qv.where(F.col("vec_id") >= nq), queries), 10)

    # plain IVF-PQ: one coarse train (shared seed-round memo, r15),
    # per-query argmax cell -> candidates
    cents = _ivf_cents(spark, sf_dir)
    cand_plain = _probe(qv, cents, _nearest_cells(qv, cents), 1, nq)
    plain = _rank_le(
        _pq_scored(spark, sf_dir, candidates=cand_plain, nq=nq), 10, "cosine_pq"
    )

    # residual + refined share ONE residual pipeline across all queries
    scored = _ivf_residual_scored(spark, sf_dir, nq=nq)
    resid = _rank_le(scored, 10, "cosine_pq")
    refined = _refine_from_scored(spark, sf_dir, scored, nq=nq)
    per_q = (
        queries.select("q_id")
        .join(_overlap_per_query(truth, plain, "o_plain"), "q_id", "left")
        .join(_overlap_per_query(truth, resid, "o_resid"), "q_id", "left")
        .join(_overlap_per_query(truth, refined, "o_ref"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("o_plain", F.lit(0)).alias("o_plain"),
            F.coalesce("o_resid", F.lit(0)).alias("o_resid"),
            F.coalesce("o_ref", F.lit(0)).alias("o_ref"),
        )
    )
    n10 = F.count(F.lit(1)) * 10
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        n10.alias("n_true"),
        F.sum("o_plain").alias("n_overlap_plain"),
        F.sum("o_resid").alias("n_overlap_residual"),
        F.sum("o_ref").alias("n_overlap_refined"),
        (F.sum("o_plain").cast("double") / n10).alias("mean_recall_at_10_plain"),
        (F.sum("o_resid").cast("double") / n10).alias("mean_recall_at_10_residual"),
        (F.sum("o_ref").cast("double") / n10).alias("mean_recall_at_10_refined"),
        (F.min("o_ref").cast("double") / 10).alias("worst_recall_at_10_refined"),
    )


def _semantic_incremental_oracle() -> str:
    """Oracle twin of the incremental probe: corpus-only exact collapse +
    split index, batch vectors routed through the CORPUS occupancies
    (absent prefixes stop immediately), candidates = exact-group match
    UNION live-bucket representatives UNION hot-bucket anchor."""
    sig = ",\n           ".join(
        f"{sign_bucket_sql('qe', offset=SIGN_BUCKET_BITS * k)} AS b{k}"
        for k in range(SIM_SPLIT_LEVELS)
    )
    route_joins = "\n    ".join(
        f"LEFT JOIN co{d} o{d} ON "
        + " AND ".join(f"o{d}.b{k} = s.b{k}" for k in range(d + 1))
        for d in range(SIM_SPLIT_LEVELS)
    )
    keys = _sql_prefix_keys("s")
    route_case = (
        "CASE "
        + " ".join(
            f"WHEN COALESCE(o{d}.n, 0) <= {SIM_SPLIT_CAP} THEN {keys[d]}"
            for d in range(SIM_SPLIT_LEVELS - 1)
        )
        + f" ELSE {keys[SIM_SPLIT_LEVELS - 1]} END"
    )
    return f"""
WITH {_Q_CTE},
bq AS (SELECT vec_id, qe FROM q WHERE vec_id % 10 = 7),
cq AS (SELECT vec_id, qe FROM q WHERE vec_id % 10 <> 7),
cgrp AS MATERIALIZED (
    SELECT qe, MIN(vec_id) AS rep_id, COUNT(*) AS group_n FROM cq GROUP BY qe
),
{_split_chain_sql("cgrp", "c", SIM_SPLIT_CAP)},
clive AS (SELECT rep_id, bucket FROM crbk WHERE bucket_n <= {SIM_MAX_BUCKET}),
canch AS (
    SELECT bucket, MIN(rep_id) AS anchor FROM crbk
    WHERE bucket_n > {SIM_MAX_BUCKET} GROUP BY bucket
),
bsig AS (
    SELECT vec_id AS b_id,
           {sig}
    FROM bq
),
brt AS (
    SELECT s.b_id, {route_case} AS bucket
    FROM bsig s
    {route_joins}
),
cand AS (
    SELECT b.vec_id AS b_id, g.rep_id AS c_id FROM bq b JOIN cgrp g ON g.qe = b.qe
    UNION
    SELECT r.b_id, l.rep_id FROM brt r JOIN clive l ON l.bucket = r.bucket
    UNION
    SELECT r.b_id, a.anchor FROM brt r JOIN canch a ON a.bucket = r.bucket
),
dots AS (
    SELECT p.b_id, p.c_id, SUM(eb.v * ec.v) AS dot
    FROM cand p
    JOIN ex eb ON eb.vec_id = p.b_id
    JOIN ex ec ON ec.vec_id = p.c_id AND ec.i = eb.i
    GROUP BY p.b_id, p.c_id
),
scored AS (
    SELECT d.b_id, d.c_id,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(nb.nsq AS DOUBLE)) * sqrt(CAST(nc.nsq AS DOUBLE))) AS cosine
    FROM dots d
    JOIN norms nb ON nb.vec_id = d.b_id
    JOIN norms nc ON nc.vec_id = d.c_id
),
best AS (
    SELECT b_id, c_id, cosine FROM (
        SELECT b_id, c_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cosine DESC, c_id) AS rk
        FROM scored
    ) WHERE rk = 1
)
SELECT b.vec_id,
       CASE WHEN best.cosine >= {SEMDEDUP_COSINE} THEN 'semantic_dup'
            WHEN bq.vec_id IS NULL THEN 'nonconforming'
            ELSE 'unique' END AS verdict,
       CASE WHEN best.cosine >= {SEMDEDUP_COSINE} THEN best.c_id END AS match_id,
       CASE WHEN best.cosine >= {SEMDEDUP_COSINE} THEN best.cosine END AS cosine
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 7) b
LEFT JOIN bq ON bq.vec_id = b.vec_id
LEFT JOIN best ON best.b_id = b.vec_id
"""


@register(
    "dedup_semantic_incremental",
    oracle=_semantic_incremental_oracle(),
    doc=(
        "Semantic incremental ingest dedup — the embedding twin of "
        "dedup_incremental: today's vector batch (vec_id%10==7, the same "
        "deterministic slice convention) probes a corpus-side index built "
        "with the production policy (exact collapse to representatives + "
        "recursive sign split + hot-bucket anchors) and NEVER self-joins "
        "the corpus. Three bounded candidate sources per batch vector: "
        "its exact quantized twin's representative (content join — a "
        "boilerplate re-ingest matches at cosine 1.0 even when its "
        "cluster is capped), the live representatives of the bucket the "
        "CORPUS occupancies route it to (broadcast policy joins; an "
        "unseen sign prefix routes to an empty bucket -> honest "
        "'unique'), and the anchor of a hot bucket — one probe per "
        "(batch vector, hot bucket), the lsh recovery pattern, so a new "
        "near-dup of a capped mega-cluster verdicts semantic_dup with "
        "the cluster anchor as match instead of silently 'unique' (the "
        "r8 gap, fixed for text in r9, fixed here for embeddings). "
        "Exact quantized cosine runs only on those candidates; the "
        "best-match window partitions by the batch vec_id (entity key). "
        "Every RAW batch row (embeddings where vec_id%10==7) verdicts "
        "exactly once via the left join — conformance-gate-excluded "
        "vectors (wrong dim / zero quantized norm) verdict an explicit "
        "'nonconforming' instead of silently vanishing (ADVICE r10)."
    ),
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    is_batch = (F.col("vec_id") % 10) == 7
    batch = qv.where(is_batch)
    corpus = qv.where(~is_batch)
    cgrp = corpus.groupBy("qe").agg(
        F.min("vec_id").alias("rep_id"), F.count(F.lit(1)).alias("group_n")
    )
    crbk, occs = _split_assign(cgrp, SIM_SPLIT_CAP)
    clive = crbk.where(F.col("bucket_n") <= SIM_MAX_BUCKET).select(
        "rep_id", "bucket"
    )
    canch = (
        crbk.where(F.col("bucket_n") > SIM_MAX_BUCKET)
        .groupBy("bucket")
        .agg(F.min("rep_id").alias("anchor"))
    )
    bsig = batch.select(
        F.col("vec_id").alias("b_id"),
        *[
            sign_bucket(F.col("qe"), offset=SIGN_BUCKET_BITS * k).alias(f"b{k}")
            for k in range(SIM_SPLIT_LEVELS)
        ],
    )
    brt = _route_to_buckets(bsig, occs, SIM_SPLIT_CAP).select("b_id", "bucket")
    candx = (
        batch.select(F.col("vec_id").alias("b_id"), "qe")
        .join(cgrp, "qe")
        .select("b_id", F.col("rep_id").alias("c_id"))
    )
    candb = brt.join(clive, "bucket").select("b_id", F.col("rep_id").alias("c_id"))
    candh = brt.join(F.broadcast(canch), "bucket").select(
        "b_id", F.col("anchor").alias("c_id")
    )
    cand = candx.unionByName(candb).unionByName(candh).distinct()
    bqv = batch.select(
        F.col("vec_id").alias("b_id"),
        F.col("qe").alias("b_qe"),
        F.col("nsq").alias("b_nsq"),
    )
    cqv = corpus.select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("nsq").alias("c_nsq"),
    )
    scored = cand.join(bqv, "b_id").join(cqv, "c_id").select(
        "b_id",
        "c_id",
        cosine_q(
            dot_q(F.col("b_qe"), F.col("c_qe")), F.col("b_nsq"), F.col("c_nsq")
        ).alias("cosine"),
    )
    w = Window.partitionBy("b_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select("b_id", "c_id", "cosine")
    )
    hit = F.col("cosine") >= SEMDEDUP_COSINE
    # verdict universe = the RAW batch slice, not the gated frame (ADVICE
    # r10): a nonconforming batch vector (wrong dim / zero quantized norm)
    # never reaches the math, but it must still verdict exactly once —
    # explicitly 'nonconforming', mirrored in the oracle — or a data bug
    # in today's crawl silently shrinks the verdict set.
    raw_batch = (
        load_table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") % 10) == 7)
        .select("vec_id")
    )
    conforming = batch.select("vec_id", F.lit(True).alias("is_conf"))
    return (
        raw_batch.join(conforming, "vec_id", "left")
        .join(best.withColumnRenamed("b_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.when(hit, F.lit("semantic_dup"))
            .when(F.col("is_conf").isNull(), F.lit("nonconforming"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.when(hit, F.col("c_id")).alias("match_id"),
            F.when(hit, F.col("cosine")).alias("cosine"),
        )
    )


# ------------------------------------------------- hard-negative mining

#: per query: top-N different-label neighbors (hard negatives) and the
#: single LEAST-similar same-label neighbor (hard positive)
HARD_NEG_K = 5


@register(
    "sim_hard_negative_mining",
    oracle=f"""
WITH {_Q_CTE},
{_batch_truth_ctes(N_QUERY_BATCH)},
scored AS (
    SELECT b.qid AS q_id, qq.label AS q_label, b.vec_id, cq.label, b.cosine
    FROM bcos b
    JOIN q qq ON qq.vec_id = b.qid
    JOIN q cq ON cq.vec_id = b.vec_id
),
negs AS (
    SELECT q_id, q_label, 'neg' AS kind,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank,
           vec_id, label, cosine
    FROM scored WHERE label <> q_label
),
poss AS (
    SELECT q_id, q_label, 'pos' AS kind,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine ASC, vec_id) AS rank,
           vec_id, label, cosine
    FROM scored WHERE label = q_label
)
SELECT q_id, q_label, kind, CAST(rank AS BIGINT) AS rank, vec_id, label, cosine
FROM negs WHERE rank <= {HARD_NEG_K}
UNION ALL
SELECT q_id, q_label, kind, CAST(rank AS BIGINT) AS rank, vec_id, label, cosine
FROM poss WHERE rank <= 1
""",
    doc=(
        f"Hard-example mining for contrastive/metric training (the FaceNet "
        f"/ SimCSE batch-construction step): for each of {N_QUERY_BATCH} "
        f"anchor vectors, the {HARD_NEG_K} MOST-similar different-label "
        "vectors (hard negatives — the ones a margin loss learns from) "
        "and the LEAST-similar same-label vector (hard positive). One "
        "corpus pass: the anchor block rides a broadcast like "
        "sim_ann_topk_batch, every corpus row scores against all anchors "
        "in its own task, and the per-anchor ranks are windows "
        "partitioned by anchor id over q_id-keyed score rows — the only "
        "wide exchange. Same exact quantized cosine grammar as the ANN "
        "stack, so results are bit-identical to the oracle."
    ),
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    anchors = _query_block(qv, N_QUERY_BATCH, ("label", "qe", "nsq"))
    scored = (
        qv.where(F.col("vec_id") >= N_QUERY_BATCH)
        .crossJoin(F.broadcast(anchors))
        .select("q_id", "q_label", "vec_id", "label", _exact_cosine().alias("cosine"))
    )
    w_neg = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    w_pos = Window.partitionBy("q_id").orderBy(F.asc("cosine"), F.asc("vec_id"))
    negs = (
        scored.where(F.col("label") != F.col("q_label"))
        .withColumn("rank", F.row_number().over(w_neg))
        .where(F.col("rank") <= HARD_NEG_K)
        .select(
            "q_id", "q_label", F.lit("neg").alias("kind"),
            F.col("rank").cast("long").alias("rank"), "vec_id", "label", "cosine",
        )
    )
    poss = (
        scored.where(F.col("label") == F.col("q_label"))
        .withColumn("rank", F.row_number().over(w_pos))
        .where(F.col("rank") <= 1)
        .select(
            "q_id", "q_label", F.lit("pos").alias("kind"),
            F.col("rank").cast("long").alias("rank"), "vec_id", "label", "cosine",
        )
    )
    return negs.unionAll(poss)


# ------------------------------------------- semantic threshold sweep

#: cosine bars measured by the sweep, in integer percent
SEM_SWEEP_PCTS = (40, 50, 60, 70, 80, 90)


@register(
    "sim_semantic_threshold_sweep",
    oracle=f"""
WITH {_Q_CTE},
{_PAIR_CTES},
pairsq AS MATERIALIZED (
    SELECT vec_a, vec_b, cosine FROM spairs
),
vmax AS MATERIALIZED (
    SELECT vec, MAX(cosine) AS mc FROM (
        SELECT vec_a AS vec, cosine FROM pairsq
        UNION ALL
        SELECT vec_b AS vec, cosine FROM pairsq
    ) GROUP BY vec
),
tot AS (SELECT COUNT(*) AS n FROM embeddings),
th(t) AS (VALUES {", ".join(f"({t})" for t in SEM_SWEEP_PCTS)}),
pp AS (
    SELECT t, COUNT(*) FILTER (p.cosine >= CAST(t AS DOUBLE) / 100) AS n_pairs
    FROM th LEFT JOIN pairsq p ON TRUE GROUP BY t
),
vv AS (
    SELECT t, COUNT(*) FILTER (v.mc >= CAST(t AS DOUBLE) / 100) AS n_dup
    FROM th LEFT JOIN vmax v ON TRUE GROUP BY t
)
SELECT CAST(th.t AS BIGINT) AS threshold_pct,
       CAST(pp.n_pairs AS BIGINT) AS n_pairs,
       CAST(vv.n_dup AS BIGINT) AS n_dup_vecs,
       CAST(floor(CAST(vv.n_dup * 1000000 AS DOUBLE) / tot.n) AS BIGINT) AS dup_frac_ppm
FROM th JOIN pp ON pp.t = th.t JOIN vv ON vv.t = th.t CROSS JOIN tot
ORDER BY threshold_pct
""",
    doc=(
        "SemDeDup threshold selection curve: the duplicate exposure the "
        "corpus would see at each cosine bar {40..90}%, measured from ONE "
        "run of the production collapse+split+probe pair path — per-bar "
        "CERTIFICATE-edge count (stars + representative pairs, the sparse "
        "form the components consume — intra-group quadratic pairs are "
        "never materialized, so n_pairs counts certificate edges), "
        "vectors with at least one above-bar neighbor, and that "
        "as a ppm fraction of the corpus. Every bar is a conditional "
        "aggregate over the same pair frame (per-vector max-cosine is "
        "one symmetrized groupBy), so the whole sweep costs the pair "
        "pass plus O(corpus) arithmetic — the number SEMDEDUP_COSINE "
        "should be chosen FROM, not guessed. The bars ride one row of "
        "conditional sums exploded into the report rows; the corpus "
        "total is a broadcast 1-row scalar."
    ),
)
def sim_semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # already a memoized localCheckpoint — the sweep's multi-consumer
    # reuse rides the shared certificate, no second materialization
    pairs = sim_bucketed_cosine_pairs(spark, sf_dir)
    vmax = (
        pairs.select(F.col("vec_a").alias("vec"), "cosine")
        .unionAll(pairs.select(F.col("vec_b").alias("vec"), "cosine"))
        .groupBy("vec")
        .agg(F.max("cosine").alias("mc"))
    )
    pp = pairs.agg(
        *[
            F.coalesce(
                F.sum((F.col("cosine") >= t / 100).cast("long")), F.lit(0)
            ).alias(f"p{t}")
            for t in SEM_SWEEP_PCTS
        ]
    )
    vv = vmax.agg(
        *[
            F.coalesce(F.sum((F.col("mc") >= t / 100).cast("long")), F.lit(0)).alias(
                f"v{t}"
            )
            for t in SEM_SWEEP_PCTS
        ]
    )
    tot = load_table(spark, sf_dir, "embeddings").agg(F.count(F.lit(1)).alias("n"))
    row = pp.crossJoin(F.broadcast(vv)).crossJoin(F.broadcast(tot))
    bars = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).cast("long").alias("threshold_pct"),
                    F.col(f"p{t}").alias("n_pairs"),
                    F.col(f"v{t}").alias("n_dup_vecs"),
                )
                for t in SEM_SWEEP_PCTS
            ]
        )
    )
    return (
        row.select(bars.alias("b"), "n")
        .select(
            F.col("b.threshold_pct").alias("threshold_pct"),
            F.col("b.n_pairs").alias("n_pairs"),
            F.col("b.n_dup_vecs").alias("n_dup_vecs"),
            F.floor((F.col("b.n_dup_vecs") * 1000000).cast("double") / F.col("n"))
            .cast("long")
            .alias("dup_frac_ppm"),
        )
        .orderBy("threshold_pct")
    )


# ------------------------------------------- nearest-centroid classifier


@register(
    "sim_centroid_classifier",
    oracle=f"""
WITH {_Q_CTE},
{_centroid_sums_sql("cl", "ex", "(SELECT vec_id, label AS cell FROM q)")},
assign AS ({_nearest_cells_sql("cl")}),
conf AS (
    SELECT q.label AS actual_label, a.cell AS predicted_label, COUNT(*) AS n
    FROM q JOIN assign a ON a.vec_id = q.vec_id GROUP BY 1, 2
),
tot AS (SELECT actual_label, SUM(n) AS actual_total FROM conf GROUP BY 1)
SELECT c.actual_label, c.predicted_label, CAST(c.n AS BIGINT) AS n,
       CAST(t.actual_total AS BIGINT) AS actual_total,
       CAST((c.n * 1000000) // t.actual_total AS BIGINT) AS cell_ppm
FROM conf c JOIN tot t USING (actual_label)
ORDER BY actual_label, predicted_label
""",
    doc=(
        "Nearest-class-mean classifier eval over the labeled embeddings — "
        "the weak-classifier loop a labeling/curation pipeline runs to "
        "sanity-check embedding quality (if class centroids can't "
        "separate the labels, neither will anything built on them). "
        "Per-label centroids are EXACT int64 elementwise member sums "
        "(cosine is scale-invariant, so the sum vector IS the mean "
        "direction — no float averaging, same rule as "
        "sim_ann_kmeans_train); every vector assigns to its argmax-"
        "quantized-cosine label centroid via the shared _nearest_cells "
        "broadcast (L rows per vector, bounded by the label count, never "
        "the corpus), and the output is the confusion matrix with "
        "per-actual-label recall cells in exact-integer ppm. The embedding "
        "twin of text_lang_id_eval. One corpus pass for the centroids "
        "(per-dim sums, two-phase) + one broadcast scoring pass; centroid "
        "state is labels x dims integers."
    ),
)
def sim_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    cents = _centroid_sums(qv.select(F.col("label").alias("cell"), "qe"))
    assign = _nearest_cells(qv, cents)
    conf = (
        qv.select("vec_id", F.col("label").alias("actual_label"))
        .join(assign, "vec_id")
        .groupBy("actual_label", F.col("cell").alias("predicted_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = conf.groupBy("actual_label").agg(F.sum("n").alias("actual_total"))
    return (
        conf.join(tot, "actual_label")
        .select(
            "actual_label",
            "predicted_label",
            F.col("n").cast("long").alias("n"),
            F.col("actual_total").cast("long").alias("actual_total"),
            F.expr("(n * 1000000) div actual_total").cast("long").alias("cell_ppm"),
        )
        .orderBy("actual_label", "predicted_label")
    )


# --------------------------------------------------- hybrid retrieval

#: keyword for the hybrid-retrieval stage (a mid-frequency corpus token)
HYBRID_KW = "spark"

#: bounded list sizes: each modality contributes its top-N candidates
HYBRID_LIST_N = 20

#: reciprocal-rank-fusion smoothing constant (the standard k=60 of
#: Cormack et al. 2009)
RRF_K = 60


@register(
    "sim_hybrid_retrieval",
    oracle=f"""
WITH {_Q_CTE},
kw AS (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t = '{HYBRID_KW}')) AS n_kw
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), t -> t = '{HYBRID_KW}')) > 0
),
{_TRUTH_CTES}
SELECT k.doc_id, CAST(k.n_kw AS BIGINT) AS n_kw, s.cosine
FROM kw k JOIN qcos s ON s.vec_id = k.doc_id
ORDER BY s.cosine DESC, k.doc_id
LIMIT 10
""",
    doc=(
        "Hybrid keyword-filtered vector retrieval — the RAG-retriever "
        f"composition: documents containing the keyword '{HYBRID_KW}' "
        "form the candidate set (token-exact match on the split stream, "
        "never a substring LIKE), candidates join their embeddings on the "
        "shared id (vec_id = doc_id — the embeddings table IS the "
        "document-embedding store; docs without a vector drop out), and "
        "the query vector (vec 0) re-ranks survivors by exact quantized "
        "cosine, top-10 with deterministic tie-break. Scale shape: the "
        "keyword scan is column-pruned to (doc_id, text) and filters "
        "BEFORE the join, the id equi-join co-partitions (bucketed by id "
        "in a real deployment, zero-shuffle), the 1-row query broadcasts, "
        "and the final top-10 is TakeOrdered — no global sort. The filter "
        "composes with the sign-bucket/IVF candidate pruning for corpora "
        "where even the filtered side is huge."
    ),
)
def sim_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_kw = F.size(F.filter(F.split("text", " "), lambda t: t == F.lit(HYBRID_KW)))
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", n_kw.alias("n_kw"))
        .where(F.col("n_kw") > 0)
    )
    qv = _quantized(spark, sf_dir)
    cand = qv.where(F.col("vec_id") != 0).join(
        docs, qv.vec_id == docs.doc_id
    )
    return (
        cand.crossJoin(F.broadcast(_query_block(qv)))
        .select(
            "doc_id", F.col("n_kw").cast("long").alias("n_kw"), _exact_cosine().alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "sim_hybrid_rrf_fusion",
    oracle=f"""
WITH {_Q_CTE},
kw AS (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t = '{HYBRID_KW}')) AS n_kw
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), t -> t = '{HYBRID_KW}')) > 0
),
kwtop AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_kw DESC, doc_id) AS kw_rank
    FROM kw ORDER BY n_kw DESC, doc_id LIMIT {HYBRID_LIST_N}
),
{_TRUTH_CTES},
vtop AS (
    SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS v_rank
    FROM qcos ORDER BY cosine DESC, vec_id LIMIT {HYBRID_LIST_N}
),
fused AS (
    SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
           k.kw_rank, v.v_rank,
           COALESCE(1.0 / ({RRF_K} + k.kw_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + v.v_rank), 0.0) AS rrf
    FROM kwtop k FULL OUTER JOIN vtop v ON v.doc_id = k.doc_id
)
SELECT doc_id,
       CAST(kw_rank AS BIGINT) AS kw_rank,
       CAST(v_rank AS BIGINT) AS v_rank,
       rrf AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
""",
    doc=(
        "Reciprocal-rank fusion of the keyword and vector retrieval lists "
        f"(Cormack et al. 2009, k = {RRF_K}) — the standard hybrid-search "
        "merge (Elasticsearch/Vespa shape): each modality contributes its "
        f"top-{HYBRID_LIST_N} (keyword rank = occurrence count of "
        f"'{HYBRID_KW}' desc, vector rank = exact quantized cosine to vec "
        "0 desc, both with id tie-breaks), and a doc's fused score is the "
        "sum of 1/(k + rank) over the lists it appears in (absent list "
        "contributes 0). Scale shape: each list is a TakeOrdered head — "
        "the rank windows run over ALREADY-BOUNDED "
        f"{HYBRID_LIST_N}-row frames, never the corpus (the ranked-"
        "before-collect rule from text_inverted_index); the fusion is a "
        f"full-outer join of two {HYBRID_LIST_N}-row frames. The 1/(k+r) "
        "divisions are single IEEE ops on integer ranks — bit-identical "
        "across engines."
    ),
)
def sim_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_kw = F.size(F.filter(F.split("text", " "), lambda t: t == F.lit(HYBRID_KW)))
    kw = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", n_kw.alias("n_kw"))
        .where(F.col("n_kw") > 0)
        .orderBy(F.desc("n_kw"), F.asc("doc_id"))
        .limit(HYBRID_LIST_N)
    )
    kwtop = kw.withColumn(
        "kw_rank",
        F.row_number().over(Window.orderBy(F.desc("n_kw"), F.asc("doc_id"))),
    ).select("doc_id", "kw_rank")
    qv = _quantized(spark, sf_dir)
    vlist = (
        _exact_scored(qv.where(F.col("vec_id") != 0), _query_block(qv))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(HYBRID_LIST_N)
    )
    vtop = vlist.withColumn(
        "v_rank", F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
    ).select(F.col("vec_id").alias("doc_id"), "v_rank")
    fused = kwtop.join(vtop, "doc_id", "full_outer").select(
        "doc_id",
        "kw_rank",
        "v_rank",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("v_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return (
        fused.select(
            "doc_id",
            F.col("kw_rank").cast("long").alias("kw_rank"),
            F.col("v_rank").cast("long").alias("v_rank"),
            "rrf_score",
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


# ------------------------------------------------ IVF nprobe recall sweep

#: probe widths swept against the trained IVF index
IVF_NPROBE_SWEEP = (1, 2, 4, 8)


def _nprobe_sweep_sql() -> str:
    per_np = ",\n".join(
        f"""r{np} AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        FROM cand WHERE cell_rank <= {np}
    ) WHERE rk <= 10
),
o{np} AS (SELECT COALESCE(SUM(n), 0) AS n_overlap FROM ({_overlap_per_query_sql(f"r{np}", "n")}))"""
        for np in IVF_NPROBE_SWEEP
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({np} AS BIGINT) AS nprobe,
       CAST((SELECT COUNT(*) FROM qs) AS BIGINT) AS n_queries,
       CAST((SELECT n_overlap FROM o{np}) AS BIGINT) AS n_overlap,
       CAST((SELECT n_overlap FROM o{np}) AS DOUBLE)
           / ((SELECT COUNT(*) FROM qs) * 10) AS mean_recall_at_10"""
        for np in IVF_NPROBE_SWEEP
    )
    return f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
{_batch_truth_ctes(SIM_EVAL_NQ)},
qrank AS ({_nearest_cells_sql("c_b1", k=None, where=f"e.vec_id < {SIM_EVAL_NQ}")}),
cand AS (
    SELECT a.qid, a.vec_id, qr.rank AS cell_rank, a.cosine
    FROM bcos a
    JOIN ivfa1 s ON s.vec_id = a.vec_id
    JOIN qrank qr ON qr.vec_id = a.qid AND qr.cell = s.cell
),
{per_np}
SELECT * FROM ({rows}) ORDER BY nprobe
"""


@register(
    "sim_ann_ivf_nprobe_sweep",
    oracle=_nprobe_sweep_sql(),
    doc=(
        "IVF nprobe-recall tuning curve — the FAISS operating-point sweep: "
        f"recall@10 of the TRAINED one-Lloyd-round IVF index at nprobe in "
        f"{IVF_NPROBE_SWEEP}, averaged over {SIM_EVAL_NQ} query vectors "
        "against per-query exact ground truth. The measured curve that "
        "picks the candidate-volume/recall trade BEFORE committing an "
        "index config — the IVF twin of dedup_banding_sweep, and the "
        "multi-point generalization of the fixed nprobe=2 baked into the "
        "residual stack. ONE shared scoring pass: exact query-corpus "
        "cosines, the corpus cell assignment, and the per-query centroid "
        "ranking are each computed once; every nprobe row is a filter "
        "(cell_rank <= np) + bounded re-rank over the SAME candidate "
        f"frame, so the sweep costs one batch-eval, not "
        f"{len(IVF_NPROBE_SWEEP)}. At nprobe = {N_CELLS} the filter "
        "passes everything and recall must hit 1.0 exactly — asserted in "
        "tests as the self-check that candidates were never lost."
    ),
)
def sim_ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    cents = _ivf_cents(spark, sf_dir)  # shared seed-round memo (r15)
    queries = _query_block(qv, SIM_EVAL_NQ)
    corpus = qv.where(F.col("vec_id") >= SIM_EVAL_NQ)
    # ONE brute-force scoring pass (r15): truth AND the shared candidate
    # frame both consume it — the r14 shape re-executed the corpus x nq
    # crossJoin + per-element dot lambda for each
    scored = _exact_scored(corpus, queries).localCheckpoint()
    truth = _rank_le(scored, 10).localCheckpoint()
    assignc = _nearest_cells(corpus, cents)
    qrank = _nearest_cells(qv.where(F.col("vec_id") < SIM_EVAL_NQ), cents, None).select(
        F.col("vec_id").alias("q_id"), "cell", F.col("rank").alias("cell_rank")
    )
    # one shared candidate frame; each nprobe row filters + re-ranks it
    cand = (
        scored.join(assignc, "vec_id").join(qrank, ["q_id", "cell"])
    ).localCheckpoint()
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    rows = []
    for np in IVF_NPROBE_SWEEP:
        hit = _rank_le(cand.where(F.col("cell_rank") <= np), 10)
        ovl = truth.join(hit, ["q_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("n_overlap")
        )
        rows.append(
            nq.crossJoin(F.broadcast(ovl)).select(
                F.lit(np).cast("long").alias("nprobe"),
                F.col("n_queries").cast("long").alias("n_queries"),
                F.col("n_overlap").cast("long").alias("n_overlap"),
                (
                    F.col("n_overlap").cast("double")
                    / (F.col("n_queries") * 10)
                ).alias("mean_recall_at_10"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("nprobe")


# ------------------------------------------- Matryoshka prefix recall

#: prefix widths swept by the truncated-dimension recall curve — the
#: Matryoshka (Kusupati et al. 2022) serving question: how many leading
#: dimensions does retrieval actually need? The full width is the sanity
#: row (recall exactly 1.0 by construction).
MRL_PREFIX_DIMS = (8, 16, 32, 64)


def _mrl_prefix_sql(d: int) -> str:
    return f"""
    SELECT {d} AS prefix_dim, vec_id FROM (
        SELECT c.vec_id,
               CAST(SUM(c.v * qq.v) AS DOUBLE)
                   / (sqrt(CAST(SUM(c.v * c.v) AS DOUBLE))
                      * sqrt(CAST((SELECT SUM(v * v) FROM ex WHERE vec_id = 0 AND i <= {d}) AS DOUBLE)))
                   AS cos
        FROM ex c JOIN (SELECT i, v FROM ex WHERE vec_id = 0 AND i <= {d}) qq ON c.i = qq.i
        WHERE c.vec_id <> 0 AND c.i <= {d}
        GROUP BY c.vec_id
        ORDER BY cos DESC, c.vec_id
        LIMIT 10
    )"""


@register(
    "sim_mrl_prefix_recall",
    oracle=f"""
WITH {_Q_CTE},
{_TRUTH_CTES},
pref AS ({" UNION ALL ".join(_mrl_prefix_sql(d) for d in MRL_PREFIX_DIMS)})
SELECT p.prefix_dim,
       CAST(COUNT(*) AS BIGINT) AS n_retrieved,
       CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // 10 AS BIGINT) AS recall_ppm
FROM pref p LEFT JOIN true_topk t ON t.vec_id = p.vec_id
GROUP BY p.prefix_dim
ORDER BY p.prefix_dim
""",
    doc=(
        "Matryoshka-style truncated-dimension recall curve (Kusupati et "
        "al. 2022 MRL; the 'how many leading dims does serving need?' "
        "sizing question): for each prefix width, rank the corpus by "
        "cosine computed on ONLY the first d quantized dimensions and "
        "measure top-10 overlap against the full-width exact truth — in "
        "exact integer ppm. Prefix dots/norms are exact int64 over "
        "sliced arrays from ONE quantized frame (checkpointed, four "
        "TakeOrdered passes — never four corpus rescans of raw "
        "embeddings); the full-width row is the built-in sanity check "
        "(recall exactly 1e6). At 100 TB this decides the stored vector "
        "width for the first-stage retriever; the refine stage re-ranks "
        "at full width, exactly the sim_ann_ivfpq_refine_topk shape."
    ),
)
def sim_mrl_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir).select("vec_id", "qe").localCheckpoint()
    out = None
    truth = None
    for d in MRL_PREFIX_DIMS:
        pe = F.slice("qe", 1, d)
        scored = (
            qv.select("vec_id", pe.alias("pe"))
            .withColumn("pnsq", norm_sq_q(F.col("pe")))
            .where(F.col("pnsq") > 0)
        )
        query = _query_block(scored, cols=("pe", "pnsq"))
        cos = cosine_q(
            dot_q(F.col("pe"), F.col("q_pe")), F.col("pnsq"), F.col("q_pnsq")
        )
        topk = (
            scored.where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(query))
            .select("vec_id", cos.alias("cos"))
            .orderBy(F.desc("cos"), F.asc("vec_id"))
            .limit(10)
            .select(F.lit(d).alias("prefix_dim"), "vec_id")
        )
        if d == max(MRL_PREFIX_DIMS):
            truth = topk.select("vec_id").localCheckpoint()
        out = topk if out is None else out.unionByName(topk)
    hits = out.join(
        truth.withColumn("hit", F.lit(1)), "vec_id", "left"
    )
    return (
        hits.groupBy("prefix_dim")
        .agg(
            F.count(F.lit(1)).alias("n_retrieved"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap"),
        )
        .select(
            "prefix_dim",
            "n_retrieved",
            "n_overlap",
            F.expr("n_overlap * 1000000 DIV 10").alias("recall_ppm"),
        )
        .orderBy("prefix_dim")
    )


#: MRL funnel-retrieval geometry: shortlist width at the cheap prefix
#: dimension, then exact full-width re-rank of the shortlist only
MRL_FUNNEL_DIM = 8
MRL_FUNNEL_SHORTLIST = 50


@register(
    "sim_mrl_funnel_retrieval",
    oracle=f"""
WITH {_Q_CTE},
{_TRUTH_CTES},
shortlist AS (
    SELECT c.vec_id,
           CAST(SUM(c.v * q.v) AS DOUBLE)
               / (sqrt(CAST(SUM(c.v * c.v) AS DOUBLE))
                  * sqrt(CAST((SELECT SUM(v * v) FROM ex WHERE vec_id = 0 AND i <= {MRL_FUNNEL_DIM}) AS DOUBLE)))
               AS pcos
    FROM ex c JOIN (SELECT i, v FROM ex WHERE vec_id = 0 AND i <= {MRL_FUNNEL_DIM}) q ON c.i = q.i
    WHERE c.vec_id <> 0 AND c.i <= {MRL_FUNNEL_DIM}
    GROUP BY c.vec_id
    ORDER BY pcos DESC, c.vec_id
    LIMIT {MRL_FUNNEL_SHORTLIST}
),
reranked AS ({_cand_topk_sql("shortlist")})
SELECT CAST((SELECT COUNT(*) FROM true_topk) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM reranked) AS BIGINT) AS n_retrieved,
       CAST({_overlap_sql("reranked")} AS BIGINT) AS n_overlap,
       CAST({_overlap_sql("reranked")} * 1000000 // 10 AS BIGINT) AS recall_ppm
""",
    doc=(
        "Matryoshka FUNNEL retrieval (the MRL paper's adaptive-retrieval "
        f"serving pattern): shortlist the corpus by cosine over only the "
        f"first {MRL_FUNNEL_DIM} quantized dims (cheap — {MRL_FUNNEL_DIM}/64 "
        "of the dot-product work and of the scanned vector bytes in a "
        f"dimension-ordered layout), then re-rank ONLY the top-"
        f"{MRL_FUNNEL_SHORTLIST} shortlist at full width and take 10. "
        "Output is the recall eval vs exact full-width truth in exact "
        "integer ppm. The composition recovers most of what the raw "
        f"{MRL_FUNNEL_DIM}-dim ranking loses (sim_mrl_prefix_recall's "
        "curve) at a fraction of full-width scan cost — the same "
        "shortlist->refine shape as sim_ann_ivfpq_refine_topk, with "
        "prefix dimensions instead of a coarse quantizer. PROVABLE "
        "dominance: any truth member captured by the shortlist re-ranks "
        "into the final 10 (it is globally top-10 by the exact cosine "
        "the re-rank uses), so funnel recall >= raw prefix@10 recall "
        "ALWAYS — pinned in tests. Honesty note: the synthetic "
        "embeddings are not Matryoshka-TRAINED, so leading dims carry no "
        "privileged signal and absolute funnel recall decays with corpus "
        "size (0.6 at 200 vectors, 0 at 2000 with a 50-wide shortlist) — "
        "the operator measures exactly the property MRL training buys; "
        "production sizes the shortlist as a corpus fraction. Exact "
        "int64 dots, one checkpointed quantized frame, two TakeOrdered "
        "passes."
    ),
)
def sim_mrl_funnel_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq").localCheckpoint()
    pe = F.slice("qe", 1, MRL_FUNNEL_DIM)
    scored = qv.select("vec_id", "qe", "nsq", pe.alias("pe")).withColumn(
        "pnsq", norm_sq_q(F.col("pe"))
    )
    corpus = scored.where((F.col("vec_id") != 0) & (F.col("pnsq") > 0))
    query = _query_block(scored, cols=("pe", "pnsq", "qe", "nsq"))
    pcos = cosine_q(dot_q(F.col("pe"), F.col("q_pe")), F.col("pnsq"), F.col("q_pnsq"))
    shortlist = (
        corpus.crossJoin(F.broadcast(query))
        .select("vec_id", "qe", "nsq", "q_qe", "q_nsq", pcos.alias("pcos"))
        .orderBy(F.desc("pcos"), F.asc("vec_id"))
        .limit(MRL_FUNNEL_SHORTLIST)
    )
    reranked = (
        shortlist.select("vec_id", _exact_cosine().alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    truth = sim_ann_topk(spark, sf_dir).select("vec_id")
    return _overlap_counts(truth, reranked).select(
        "n_true",
        "n_retrieved",
        "n_overlap",
        F.expr("n_overlap * 1000000 DIV 10").alias("recall_ppm"),
    )


# ------------------------------------------------------ MRR retrieval eval


@register(
    "sim_retrieval_mrr_eval",
    oracle=f"""
WITH {_Q_CTE},
{_SPLIT_BUCKET_CTES},
{_batch_truth_ctes(SIM_EVAL_NQ)},
btrue1 AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        FROM bcos
    ) WHERE rk = 1
),
blshrank AS (
    SELECT c.qid, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY c.cosine DESC, c.vec_id) AS rk
    FROM bcos c
    JOIN live bq ON bq.vec_id = c.qid
    JOIN live bc ON bc.vec_id = c.vec_id AND bc.bucket = bq.bucket
),
per_q AS (
    SELECT t.qid,
           COALESCE(CAST(1000000 // l.rk AS BIGINT), 0) AS rr_ppm,
           CASE WHEN l.rk IS NOT NULL THEN 1 ELSE 0 END AS found
    FROM btrue1 t
    LEFT JOIN blshrank l ON l.qid = t.qid AND l.vec_id = t.vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(found) AS BIGINT) AS n_found,
       CAST(SUM(rr_ppm) // COUNT(*) AS BIGINT) AS mrr_ppm,
       CAST(MIN(rr_ppm) AS BIGINT) AS worst_rr_ppm
FROM per_q
""",
    doc=(
        "Mean reciprocal rank of the PRODUCTION sign-bucket retrieval "
        f"path over {SIM_EVAL_NQ} queries — the first-relevant-result "
        "metric a RAG/search stack reports beside recall@k (recall says "
        "whether truth appears anywhere in the candidate set; MRR says "
        "how high): per query, the exact-cosine rank of the TRUE nearest "
        "neighbor within the query's bucket-pruned candidate list, "
        "reciprocal-rank in EXACT integer ppm (1000000 div rank — no "
        "float ordering anywhere, the recall-eval discipline), a query "
        "whose truth was pruned away scoring an honest zero via the left "
        "join. Same broadcast query block + per-query windows as "
        "sim_ann_batch_recall_eval; one shared scoring pass feeds truth "
        "and the ranked list."
    ),
)
def sim_retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _quantized(spark, sf_dir)
    scored = _exact_scored(
        qv.where(F.col("vec_id") >= SIM_EVAL_NQ), _query_block(qv, SIM_EVAL_NQ)
    )
    w = _per_query()
    truth1 = (
        scored.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select("q_id", "vec_id")
    )
    live = live_sign_buckets(spark, sf_dir)
    qbuckets = live.withColumnRenamed("vec_id", "q_id").where(
        F.col("q_id") < SIM_EVAL_NQ
    )
    cand = (
        live.where(F.col("vec_id") >= SIM_EVAL_NQ)
        .join(F.broadcast(qbuckets), "bucket")
        .select("q_id", "vec_id")
    )
    lshrank = scored.join(cand, ["q_id", "vec_id"]).withColumn(
        "rk", F.row_number().over(w)
    )
    per_q = truth1.join(lshrank.select("q_id", "vec_id", "rk"), ["q_id", "vec_id"], "left").select(
        "q_id",
        F.coalesce(
            F.expr("1000000 DIV rk").cast("long"), F.lit(0).cast("long")
        ).alias("rr_ppm"),
        F.col("rk").isNotNull().cast("long").alias("found"),
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("found").cast("long").alias("n_found"),
        F.expr("SUM(rr_ppm) DIV COUNT(*)").cast("long").alias("mrr_ppm"),
        F.min("rr_ppm").cast("long").alias("worst_rr_ppm"),
    )


# ------------------------------------------------- coreset / FPS selection

#: farthest-point picks after the deterministic seed (output = FPS_K + 1
#: rows — the coreset and its coverage-radius curve)
FPS_K = 8
#: hard ceiling on FPS_K — enforced loudly at call time (each pick is a
#: sequential driver round trip and an unrolled oracle CTE stage, so K is
#: a latency knob, not a data knob; VERDICT r11 item 5)
FPS_K_MAX = 64


def _fps_oracle() -> str:
    """Unrolled farthest-point CTE chain: one MATERIALIZED stage per
    pick, each stage = dots vs the single new pick + a running max-cos
    column (min distance to the selected set = 1 - max cosine)."""
    cos = "CAST(d.dot AS DOUBLE) / (sqrt(CAST(n.nsq AS DOUBLE)) * sqrt(CAST(p.pnsq AS DOUBLE)))"
    parts = [
        "nz AS MATERIALIZED (SELECT q.vec_id, norms.nsq FROM q "
        "JOIN norms ON norms.vec_id = q.vec_id WHERE norms.nsq > 0)",
        "s0 AS (SELECT MIN(vec_id) AS vid FROM nz)",
        "p0 AS (SELECT vec_id AS pvid, nsq AS pnsq FROM nz "
        "WHERE vec_id = (SELECT vid FROM s0))",
    ]
    sel_union = "SELECT vid AS vec_id FROM s0"
    for r in range(1, FPS_K + 1):
        prev_mc = "mc0" if r == 1 else f"mc{r - 1}"
        parts.append(
            f"d{r - 1} AS (SELECT e.vec_id, SUM(e.v * p.v) AS dot "
            f"FROM ex e JOIN ex p ON p.i = e.i "
            f"AND p.vec_id = (SELECT pvid FROM p{r - 1}) GROUP BY e.vec_id)"
        )
        base = (
            f"SELECT n.vec_id, {cos} AS mc FROM nz n "
            f"JOIN d{r - 1} d ON d.vec_id = n.vec_id, p{r - 1} p"
            if r == 1
            else f"SELECT m.vec_id, GREATEST(m.mc, {cos}) AS mc FROM {prev_mc} m "
            f"JOIN nz n ON n.vec_id = m.vec_id "
            f"JOIN d{r - 1} d ON d.vec_id = m.vec_id, p{r - 1} p"
        )
        parts.append(f"mc{r} AS MATERIALIZED ({base})")
        parts.append(
            f"pk{r} AS (SELECT vec_id, mc FROM mc{r} "
            f"WHERE vec_id NOT IN ({sel_union}) "
            f"ORDER BY mc, vec_id LIMIT 1)"
        )
        parts.append(
            f"p{r} AS (SELECT n.vec_id AS pvid, n.nsq AS pnsq "
            f"FROM nz n JOIN pk{r} k ON k.vec_id = n.vec_id)"
        )
        sel_union += f" UNION ALL SELECT vec_id FROM pk{r}"
    # vid IS NOT NULL: MIN over an empty nz still yields one all-NULL row;
    # the guard keeps the oracle emitting ZERO rows for a conformant-empty
    # corpus, matching the Spark side's empty frame (ADVICE r11)
    rows = [
        "SELECT 0 AS sel_idx, vid AS vec_id, CAST(NULL AS DOUBLE) AS max_cos_to_prior "
        "FROM s0 WHERE vid IS NOT NULL"
    ]
    rows += [
        f"SELECT {r} AS sel_idx, vec_id, mc AS max_cos_to_prior FROM pk{r}"
        for r in range(1, FPS_K + 1)
    ]
    return (
        f"WITH {_Q_CTE},\n"
        + ",\n".join(parts)
        + "\nSELECT CAST(sel_idx AS BIGINT) AS sel_idx, vec_id, max_cos_to_prior FROM ("
        + " UNION ALL ".join(rows)
        + ")"
    )


@register(
    "sample_coreset_fps",
    oracle=_fps_oracle(),
    doc=(
        f"Farthest-point-sampling coreset selection ({FPS_K} picks after "
        "the deterministic min-id seed) — the k-center/greedy-coreset "
        "data-selection primitive (Sener & Savarese 2018 active-learning "
        "coresets; diversity-first subset selection for training data): "
        "each round picks the vector FARTHEST from the selected set "
        "(cosine distance; argmin of the running max-cosine, vec_id "
        "tiebreak) and emits the pick order plus max_cos_to_prior — "
        "1 - coverage radius, the non-decreasing curve that tells a "
        "curation run when additional coreset points stop buying "
        "diversity. Exactness: the running max rides the same "
        "exact-int64 dot / deterministic double cosine grammar as the "
        "ANN family, so both engines agree bit-for-bit; the oracle "
        "unrolls one MATERIALIZED stage per pick. Scale shape: each "
        "round is ONE linear corpus pass scoring against the previous "
        f"pick as a LITERAL vector (never pairwise) — {FPS_K}+1 one-ROW "
        "driver round trips total (the BPE-winners collect discipline: "
        "K-bounded, never corpus-scaled), with the running max "
        "checkpoint-pinned per round; at 100 TB the same loop runs over "
        "the persisted quantized table with the running max stored as a "
        "column, K passes total."
    ),
)
def sample_coreset_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    if FPS_K > FPS_K_MAX:
        # each pick is one driver round trip AND one unrolled oracle CTE
        # stage — past the cap both the collect loop and the SQL text
        # grow without bound, so fail LOUDLY (the repeat-upsampling
        # overflow-guard discipline), never silently grind
        raise ValueError(
            f"FPS_K={FPS_K} exceeds FPS_K_MAX={FPS_K_MAX}: farthest-point "
            "sampling is O(K) sequential corpus passes; for larger coresets "
            "use sample_cluster_balanced (one pass) or raise FPS_K_MAX "
            "deliberately"
        )
    out_schema = "sel_idx long, vec_id long, max_cos_to_prior double"
    qv = (
        _quantized(spark, sf_dir)
        .select("vec_id", "qe", "nsq")
        .where(F.col("nsq") > 0)
        .localCheckpoint()
    )
    # K+1 driver round trips of ONE ROW each (seed + one pick per round) —
    # the BPE-winners collect discipline: the next round's literal pick
    # vector rewrites the running-max projection with zero joins, so each
    # round is exactly one linear corpus pass. Row count is K-bounded,
    # never corpus-scaled (ALLOWED_COLLECT justification).
    def one_row(df):
        got = df.limit(1).collect()
        return got[0] if got else None

    seed = one_row(qv.orderBy(F.asc("vec_id")))
    if seed is None:
        # zero conforming nonzero vectors: degrade to the empty pick list
        # exactly like the oracle's empty-pk chain (ADVICE r11 — the old
        # [0] crashed here while DuckDB returned fewer rows)
        return driver_frame(spark, [], out_schema)
    picked = [(0, int(seed["vec_id"]), None)]
    sel_ids = {int(seed["vec_id"])}
    p_qe, p_nsq = list(seed["qe"]), int(seed["nsq"])

    def lit_vec(v):
        return F.array(*[F.lit(int(x)).cast("long") for x in v])

    # the running max stays a STACKED PROJECTION over the pinned qv scan
    # (optimization r14): each pick pass recomputes the <= K greatest-of-
    # cosines map-side instead of materializing a corpus-sized mc column
    # per round — K is FPS_K_MAX-bounded, so the plan depth is too, and
    # at 100 TB K cheap dot passes beat K corpus-sized cache writes
    # (measured locally: 7.9 -> 4.0 s, identical picks)
    mc = qv.select(
        "vec_id",
        "qe",
        "nsq",
        cosine_q(
            dot_q(F.col("qe"), lit_vec(p_qe)), F.col("nsq"), F.lit(p_nsq)
        ).alias("mc"),
    )
    for r in range(1, FPS_K + 1):
        pick = one_row(
            mc.where(~F.col("vec_id").isin(*sorted(sel_ids))).orderBy(
                F.asc("mc"), F.asc("vec_id")
            )
        )
        if pick is None:
            # corpus exhausted before K picks (fewer than K+1 conforming
            # nonzero vectors): emit the picks gathered so far — the
            # oracle's pk{r} LIMIT 1 stages go empty at the same round
            break
        picked.append((r, int(pick["vec_id"]), float(pick["mc"])))
        sel_ids.add(int(pick["vec_id"]))
        if r < FPS_K:
            newcos = cosine_q(
                dot_q(F.col("qe"), lit_vec(list(pick["qe"]))),
                F.col("nsq"),
                F.lit(int(pick["nsq"])),
            )
            mc = mc.select(
                "vec_id", "qe", "nsq", F.greatest(F.col("mc"), newcos).alias("mc")
            )
    return driver_frame(spark, picked, out_schema)


# ------------------------------------------------- cluster-balanced sampling

#: per-cluster document quota for the balanced subset
CLUSTER_QUOTA = 25


@register(
    "sample_cluster_balanced",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
pop AS (SELECT cell, COUNT(*) AS cell_n FROM ivfa1 GROUP BY cell),
ranked AS (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
               PARTITION BY cell
               ORDER BY {hash32_sql("CAST(vec_id AS VARCHAR)")}, vec_id
           ) AS rk
    FROM ivfa1
)
SELECT r.vec_id, r.cell,
       CAST(p.cell_n AS BIGINT) AS cell_n,
       CAST(CASE WHEN r.rk <= {CLUSTER_QUOTA} THEN r.rk END AS BIGINT) AS rk,
       r.rk <= {CLUSTER_QUOTA} AS keep,
       p.cell_n > {CLUSTER_QUOTA} AS quota_bound
FROM ranked r JOIN pop p ON p.cell = r.cell
""",
    doc=(
        "Cluster-balanced subset selection — the semantic twin of "
        "sample_domain_cap (per-SOURCE quotas) with quotas on TRAINED "
        "semantic clusters instead: the corpus assigns to the one-round "
        "spherical-Lloyd cells (sim_ann_kmeans_train's exact machinery, "
        "the same composed CTE blocks the IVF queries verify) and at "
        f"most {CLUSTER_QUOTA} vectors per cell survive by deterministic "
        "hash rank (hash32(vec_id), vec_id — the no-RNG seeded-sample "
        "discipline), so a topic that dominates the crawl cannot "
        "dominate the training mix (the cluster-quota rebalancing step "
        "of diversity-curated pipelines). Drop rows still emit with "
        "NULL rank for auditability, per-cell population and a "
        "quota_bound flag make the binding cells visible. Scale shape: "
        "one corpus pass per assignment stage against the K-row "
        "broadcast centroid set; the per-cell quota rides the salted "
        "two-level top-k (never a raw content-keyed window); populations "
        "are a K-row broadcast join-back."
    ),
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.topk import topk_per_key

    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    cents = _ivf_cents(spark, sf_dir)  # shared seed-round memo (r15)
    assign = _nearest_cells(qv, cents)
    pop = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    head = topk_per_key(
        assign,
        keys=["cell"],
        order=[
            F.asc(hash32(F.col("vec_id").cast("string"))),
            F.asc("vec_id"),
        ],
        k=CLUSTER_QUOTA,
        tiebreak=F.col("vec_id"),
    ).select("vec_id", F.col("rk").cast("long").alias("rk"))
    return (
        assign.join(F.broadcast(pop), "cell")
        .join(head, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("cell_n").cast("long").alias("cell_n"),
            "rk",
            F.col("rk").isNotNull().alias("keep"),
            (F.col("cell_n") > CLUSTER_QUOTA).alias("quota_bound"),
        )
    )


# ------------------------------------------------- cluster term profiles

#: salient terms reported per semantic cluster
CLUSTER_TOP_TERMS = 5
#: minimum in-cluster occurrences before a token can be "salient" —
#: keeps hapax/near-hapax noise out of the lift ranking
CLUSTER_TERM_MIN_C = 5


@register(
    "sim_cluster_term_profile",
    oracle=f"""
WITH {_Q_CTE},
{_KMEANS_R1_CTES},
{_IVF_ASSIGN_CTES},
ct AS MATERIALIZED (
    SELECT a.cell, t.tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
    JOIN ivfa1 a ON a.vec_id = t.doc_id
    GROUP BY 1, 2
),
tot AS (SELECT cell, SUM(c) AS cell_tokens FROM ct GROUP BY 1),
corp AS (SELECT tok, SUM(c) AS tc FROM ct GROUP BY 1),
t_all AS (SELECT SUM(c) AS tt FROM ct),
lifted AS (
    SELECT ct.cell, ct.tok, ct.c, tot.cell_tokens,
           CAST((1000000::HUGEINT * ct.c * t_all.tt)
               // (tot.cell_tokens::HUGEINT * corp.tc) AS BIGINT) AS lift_ppm
    FROM ct
    JOIN tot ON tot.cell = ct.cell
    JOIN corp ON corp.tok = ct.tok, t_all
    WHERE ct.c >= {CLUSTER_TERM_MIN_C}
)
SELECT cell, tok, CAST(c AS BIGINT) AS c,
       CAST(cell_tokens AS BIGINT) AS cell_tokens, lift_ppm,
       CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cell ORDER BY lift_ppm DESC, tok
    ) AS rk
    FROM lifted
) WHERE rk <= {CLUSTER_TOP_TERMS}
""",
    doc=(
        "Per-cluster salient-term profile — the data-map/cluster-labeling "
        "artifact (Nomic-Atlas / corpus-cartography shape) a curation run "
        "reads to learn WHAT each semantic cluster contains before "
        "quota-ing or dropping it (the human-legible companion to "
        "sample_cluster_balanced, sharing its trained one-round "
        "spherical-Lloyd cells): every conforming vector assigns to its "
        "cell, documents join their vectors on the shared id, and each "
        f"cell reports its top {CLUSTER_TOP_TERMS} tokens by exact "
        "integer lift ppm — floor(1e6 * (c/cell_tokens) / (tc/T)) — the "
        "in-cluster rate over the assigned-corpus rate, with a "
        f">= {CLUSTER_TERM_MIN_C} occurrence floor so hapax noise can't "
        "top the ranking (the text_salient_terms grammar transplanted "
        "from sources to trained clusters). Scale shape: one token pass "
        "joined to the K-row-broadcast cell assignment, two-phase "
        "(cell, tok) counts, the corpus profile reduced per token "
        "(vocabulary-bounded), the per-cell head via the salted "
        "two-level top-k — never a raw content-keyed window; the lift "
        "numerator rides the DECIMAL/HUGEINT grammar so one mega-cluster "
        "token can never wrap it."
    ),
)
def sim_cluster_term_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.topk import topk_per_key

    qv = _quantized(spark, sf_dir).select("vec_id", "qe", "nsq")
    cents = _ivf_cents(spark, sf_dir)  # shared seed-round memo (r15)
    assign = _nearest_cells(qv, cents).select(
        F.col("vec_id").alias("doc_id"), "cell"
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    ct = (
        # corpus-sized assignment: a plain id equi-join (co-partitioned /
        # bucketed on the shared id in a real deployment) — never a
        # broadcast of a corpus-scaled frame
        toks.join(assign, "doc_id")
        .groupBy("cell", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = ct.groupBy("cell").agg(F.sum("c").alias("cell_tokens"))
    corp = ct.groupBy("tok").agg(F.sum("c").alias("tc"))
    t_all = ct.agg(F.sum("c").alias("tt"))
    lifted = (
        ct.where(F.col("c") >= CLUSTER_TERM_MIN_C)
        .join(F.broadcast(tot), "cell")
        .join(corp, "tok")
        .crossJoin(F.broadcast(t_all))
        .select(
            "cell",
            "tok",
            "c",
            "cell_tokens",
            F.expr(
                "(CAST(c AS DECIMAL(19,0)) * 1000000 * CAST(tt AS DECIMAL(19,0)))"
                " DIV (CAST(cell_tokens AS DECIMAL(19,0)) * CAST(tc AS DECIMAL(19,0)))"
            ).alias("lift_ppm"),
        )
    )
    return topk_per_key(
        lifted,
        keys=["cell"],
        order=[F.desc("lift_ppm"), F.asc("tok")],
        k=CLUSTER_TOP_TERMS,
        tiebreak=F.col("tok"),
    ).select(
        "cell",
        "tok",
        F.col("c").cast("long").alias("c"),
        F.col("cell_tokens").cast("long").alias("cell_tokens"),
        F.col("lift_ppm").cast("long").alias("lift_ppm"),
        F.col("rk").cast("long").alias("rk"),
    )
