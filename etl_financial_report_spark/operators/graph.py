"""Graph analytics over the near-duplicate pair graph (north-star
surface): PageRank-style centrality identifies the "template" documents
at the heart of large near-dup clusters — the ones worth keeping (or
auditing) when the cluster collapses to a canonical representative.

Iterative dataflow beyond connected components (dedup.dedup_components):
a fixed number of power-iteration rounds, each one join + one aggregate.
All arithmetic is FIXED-POINT INTEGER (scale 1e6, integral division via
``DIV``/``//``) so partial sums commute exactly and the result is
bit-identical across engines and across partitionings — float PageRank
cannot be value-hash-checked because double addition does not commute.

At 100 TB: edges and degrees are computed once and re-joined per round
(localCheckpoint in the components operator shows the lineage-truncation
pattern; two fixed rounds here keep the DAG shallow without it), ranks
shuffle on node id every round — the same co-partitioned join profile as
any vertex-centric framework.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .dedup import (
    _BANDS_SQL,
    _lsh_pair_ctes,
    _minhash_signature_sql,
    _sig_bands_ctes,
    dedup_minhash_lsh_pairs,
)

#: fixed-point scale: rank 1.0 == 1_000_000
PR_SCALE = 1_000_000
#: damping factor 0.85 expressed as integer percents
PR_D_PCT = 85
#: power-iteration rounds (fixed so the oracle can unroll them)
PR_ROUNDS = 2

_BASE = PR_SCALE * (100 - PR_D_PCT) // 100  # (1-d) * scale


def _iter_sql(prev: str) -> str:
    return f"""
    SELECT e.dst AS node,
           CAST({_BASE} + ({PR_D_PCT} * SUM(p.r // d.d)) // 100 AS BIGINT) AS r
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
"""


@register(
    "graph_pagerank",
    oracle=f"""
WITH {_sig_bands_ctes()},
{_lsh_pair_ctes()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
it1 AS ({_iter_sql("r0")}),
it2 AS ({_iter_sql("it1")})
SELECT node AS doc_id, r AS pagerank_fp
FROM it2
""",
    doc=(
        "Fixed-point integer PageRank over the MinHash-LSH near-dup graph, "
        f"{PR_ROUNDS} power-iteration rounds: per round one equi-join of "
        "ranks onto edges and one sum per destination. Integer arithmetic "
        "(scale 1e6, DIV) makes partial sums commute, so the distributed "
        "result is exact and oracle-checkable — the float variant is not. "
        "Undirected edges mean no dangling nodes; isolated docs rank 0 by "
        "omission (they are their own cluster and need no centrality)."
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()  # computed once; every round re-joins it
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ROUNDS):
        ranks = (
            edges.join(ranks, ranks["node"] == edges["src"])
            .join(deg, "src")
            .selectExpr("dst", "(r DIV d) AS contrib")
            .groupBy("dst")
            .agg(
                F.expr(f"CAST({_BASE} + ({PR_D_PCT} * SUM(contrib)) DIV 100 AS BIGINT)").alias(
                    "r"
                )
            )
            .select(F.col("dst").alias("node"), "r")
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("pagerank_fp"))


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH sig AS ({_minhash_signature_sql()}),
bands AS ({_BANDS_SQL}),
{_lsh_pair_ctes()},
deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL
        SELECT doc_b AS node FROM pairs
    ) GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
""",
    doc=(
        "Degree distribution of the near-dup pair graph — the first "
        "diagnostic run on any similarity graph: a heavy tail here means "
        "template/boilerplate hubs that will dominate clustering and "
        "deserve their own handling (cf. the posting-list cap in "
        "text_inverted_index). Undirected degrees via UNION ALL of both "
        "endpoints then two nested integer aggregates; the second "
        "group-by runs over |distinct degrees| rows, so the exchange "
        "profile is edges → nodes → O(100) rows regardless of scale."
    ),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "graph_triangle_count",
    oracle=f"""
WITH sig AS ({_minhash_signature_sql()}),
bands AS ({_BANDS_SQL}),
{_lsh_pair_ctes()},
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.doc_a = e1.doc_b
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL
        SELECT doc_b AS node FROM pairs
    ) GROUP BY node
),
wedge AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg)
SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CAST(w.n_wedges AS BIGINT) AS n_wedges,
       CASE WHEN w.n_wedges > 0
            THEN CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges
       END AS transitivity
FROM tri t CROSS JOIN wedge w
""",
    doc=(
        "Triangle count + global transitivity of the near-dup pair graph: "
        "triangles via the canonical-orientation two-hop join (every edge "
        "stored once as doc_a < doc_b, so e1(a,b) ⋈ e2(b,c) ⋈ closing "
        "e3(a,c) counts each triangle exactly once — the standard "
        "shuffle-join triangle algorithm, no per-node adjacency "
        "materialization), wedges as sum d(d-1)/2 over undirected "
        "degrees. High transitivity on a dedup graph means LSH candidate "
        "pairs are mutually consistent (real clusters); low means "
        "banding noise. Integer counts, one guarded double division."
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wedge = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    return tri.join(F.broadcast(wedge)).select(
        F.col("n_triangles").cast("long").alias("n_triangles"),
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"),
        ).alias("transitivity"),
    )
