"""Pair-driven exact-verifier stage tests: the jaccard/containment verdicts
must be computed THROUGH an explicit candidate-pair frame — never via a
token self-join (the quadratic-under-stopword-skew shape). The behavioral
tests prove pair-driven semantics (a non-candidate dup pair must NOT appear
in the output even though its docs share every token); the plan pin lives
in tests/test_plans.py::test_verifier_token_join_is_pair_driven."""

import pytest

from etl_financial_report_spark.operators.dedup import (
    _CONTAINMENT_SQL,
    _JACCARD_SQL,
    _pair_intersections_sql,
    _shingle_rows,
    containment,
    distinct_tokens,
    exact_jaccard,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),
            (3, "a b c d"),  # exact dup of doc 1 — but never a candidate below
            (4, "x y z"),
            (5, "a b"),  # contained in doc 1
        ],
        ["doc_id", "text"],
    )


def _toks(spark):
    return distinct_tokens(_docs(spark))


def test_exact_jaccard_is_pair_driven(spark):
    toks = _toks(spark)
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["doc_a", "doc_b"])
    out = {(r.doc_a, r.doc_b): r for r in exact_jaccard(pairs, toks).collect()}
    # docs 1 and 3 are identical, yet (1, 3) is absent: the stage scored
    # exactly the candidate frame, so the token stream never self-joined
    assert set(out) == {(1, 2), (1, 4)}
    assert out[(1, 2)].n_shared == 3
    assert abs(out[(1, 2)].jaccard - 3 / 5) < 1e-12
    # a disjoint candidate comes back with an explicit 0, not a dropped row
    assert out[(1, 4)].n_shared == 0
    assert out[(1, 4)].jaccard == 0.0


def test_containment_is_pair_driven(spark):
    toks = _toks(spark)
    pairs = spark.createDataFrame([(1, 5), (2, 4)], ["doc_a", "doc_b"])
    out = {(r.doc_a, r.doc_b): r for r in containment(pairs, toks).collect()}
    assert set(out) == {(1, 5), (2, 4)}
    # doc 5 ("a b") is fully contained in doc 1 ("a b c d")
    assert out[(1, 5)].n_shared == 2
    assert out[(1, 5)].containment == 1.0
    assert out[(1, 5)].smaller_is_a is False  # |A|=4 > |B|=2
    assert out[(2, 4)].containment == 0.0


@pytest.mark.parametrize(
    "rows,shared",
    [
        ("tokens", {(1, 2): 3, (1, 4): 0, (1, 5): 2, (2, 5): 2}),
        # doc 5 ("a b") is under 3 tokens: its one shingle is its whole text
        ("shingles", {(1, 2): 1, (1, 4): 0, (1, 5): 0, (2, 5): 0}),
    ],
    ids=["tokens", "shingles"],
)
def test_sql_pair_overlap_matches_the_engine_stage(spark, rows, shared):
    """The oracle's overlap kernel (_pair_intersections_sql, run in DuckDB)
    equals exact_jaccard and containment on the cases the registry's
    parity data never reaches: a disjoint candidate (n_shared = 0 through
    the LEFT JOIN), a contained one, and a doc under 3 tokens fed through
    shingle rows."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from check_parity import normalize

    docs = _docs(spark)
    toks = distinct_tokens(docs) if rows == "tokens" else _shingle_rows(docs, "doc_id")
    pairs = spark.createDataFrame(list(shared), ["doc_a", "doc_b"])
    engine = exact_jaccard(pairs, toks).join(
        containment(pairs, toks).drop("n_shared"), ["doc_a", "doc_b"]
    )
    con = duckdb.connect()
    con.register("pairs", pairs.toPandas())
    con.register("toks", toks.toPandas())
    oracle = con.sql(f"""
WITH {_pair_intersections_sql("pairs", "toks")}
SELECT doc_a, doc_b, n_shared, {_JACCARD_SQL} AS jaccard,
       {_CONTAINMENT_SQL} AS containment, (na < nb) AS smaller_is_a
FROM pair_overlap
""").df()
    assert {(r.doc_a, r.doc_b): r.n_shared for r in oracle.itertuples()} == shared
    assert normalize(oracle) == normalize(engine.toPandas())


def test_simhash64_bucket_cap_prunes_hot_buckets(spark):
    """max_bucket=None is exact; the finite default and a huge cap change
    nothing at this corpus size (no Manku bucket is hot); cap=1 makes
    EVERY occupied bucket hot, so all candidates flow through the
    star/probe recovery (VERDICT r10 item 2) — the result must be a
    NONEMPTY subset of the exact pairs (output still passes the exact
    hamming filter) in which every identical-signature pair survives via
    its hamming-0 star edge: the cap bounds cost, it no longer silences
    detection."""
    from etl_financial_report_spark.operators.dedup import dedup_simhash64_hamming

    sf = "/root/testdata/sf0.001"
    exact_rows = dedup_simhash64_hamming(spark, sf, max_bucket=None).collect()
    exact = {(r.doc_a, r.doc_b) for r in exact_rows}
    default = {(r.doc_a, r.doc_b) for r in dedup_simhash64_hamming(spark, sf).collect()}
    huge = {
        (r.doc_a, r.doc_b)
        for r in dedup_simhash64_hamming(spark, sf, max_bucket=10**6).collect()
    }
    assert default == exact
    assert huge == exact
    probe_rows = dedup_simhash64_hamming(spark, sf, max_bucket=1).collect()
    probe = {(r.doc_a, r.doc_b) for r in probe_rows}
    assert probe <= exact
    # every hamming-0 (identical-signature) pair shares ALL its buckets
    # with its group rep; the signature-collapse star keeps it reachable
    # even when every bucket is hot — transitively through the group rep
    zero_docs = {d for r in exact_rows if r.hamming == 0 for d in (r.doc_a, r.doc_b)}
    covered = {d for p in probe for d in p}
    assert zero_docs <= covered
    assert len(probe) > 0


def test_simhash64_manku_tables_recall_equals_single_block_pigeonhole(spark):
    """The 20 Manku 3-of-6-sub-block tables must find EXACTLY the pairs the
    plain 1-of-4-block pigeonhole finds (both are exact for hamming<=3);
    the oracle SQL keeps the 4-block form, so this equality is what makes
    the narrower Manku keys parity-safe."""
    from pyspark.sql import functions as F

    from etl_financial_report_spark.operators.dedup import (
        MAX_HAMMING64,
        dedup_simhash64,
        dedup_simhash64_hamming,
    )

    sf = "/root/testdata/sf0.001"
    sig = dedup_simhash64(spark, sf)
    a, b = sig.alias("a"), sig.alias("b")
    # brute-force ground truth: every doc pair's exact hamming
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            sum(
                F.bit_count(F.expr(f"a.b{j} ^ b.b{j}")) for j in range(4)
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= MAX_HAMMING64)
        .collect()
    }
    manku = {
        (r.doc_a, r.doc_b)
        for r in dedup_simhash64_hamming(spark, sf, max_bucket=None).collect()
    }
    assert manku == truth
    assert len(truth) > 0  # the corpus does contain near-dup signatures


#: DRIVER_CC_MAX_EDGES settings for the component tests: the default
#: finishes these small graphs on the driver before any round, 4 runs
#: distributed rounds and hands the contracted graph to the driver mid-
#: loop, and 0 keeps every round distributed, as every graph was before
#: the driver finish existed
_CC_BOUNDS = [pytest.param(None, id="default"), 4, 0]


def _with_bound(monkeypatch, bound):
    import etl_financial_report_spark.operators.dedup as D

    if bound is not None:
        monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", bound)
    return D


@pytest.mark.parametrize("bound", _CC_BOUNDS)
def test_min_label_components_long_chain_converges_logarithmically(spark, monkeypatch, bound):
    """The x100 smoke falsified the "near-dup clusters are shallow"
    assumption with a 63-link chain (lag-rotated embeddings); pin the fix
    here cheaply: graph contraction must converge a 63-link chain under a
    10-round cap (plain propagation needs ~63 rounds and raised), and the
    labels must be the true transitive closure plus untouched singletons."""
    from pyspark.sql import functions as F

    D = _with_bound(monkeypatch, bound)
    monkeypatch.setattr(D, "MAX_CC_ITERATIONS", 10)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)], ["doc_a", "doc_b"]
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id")).unionAll(
        spark.createDataFrame([(100,), (101,), (999,)], ["doc_id"])
    )
    got = {
        r.doc_id: r.component
        for r in D.min_label_components(pairs, nodes).collect()
    }
    assert len(got) == n + 3
    assert all(got[i] == 0 for i in range(n))
    assert got[100] == 100 and got[101] == 100
    assert got[999] == 999


@pytest.mark.parametrize("bound", _CC_BOUNDS)
def test_min_label_components_adversarial_ordering_converges(spark, monkeypatch, bound):
    """The scheme contraction replaced (node-local pointer jumping) was
    falsified at x100 not by chain LENGTH but by adversarial id ORDERING:
    minima crawl when hooking never reaches component roots. Pin the
    O(log #components) guarantee on its worst shape — a 256-link chain
    whose ids are a deterministic pseudo-random permutation (many local
    minima per round, no monotone runs) — under a 12-round cap
    (ceil(log2(256)) = 8 plus margin; plain propagation needs ~256)."""
    from pyspark.sql import functions as F

    D = _with_bound(monkeypatch, bound)
    monkeypatch.setattr(D, "MAX_CC_ITERATIONS", 12)
    finished = []
    union_find = D._union_find_min

    def recording(edges):
        finished.append(list(edges))
        return union_find(finished[-1])

    monkeypatch.setattr(D, "_union_find_min", recording)
    n = 256
    # fixed LCG permutation of 0..n-1 (full period for m=2^k, c odd,
    # a ≡ 1 mod 4): deterministic, order-scrambled ids along the chain
    perm, x = [], 0
    for _ in range(n):
        perm.append(x)
        x = (5 * x + 113) % n
    assert len(set(perm)) == n
    pairs = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.component
        for r in D.min_label_components(pairs, nodes).collect()
    }
    assert len(got) == n
    assert all(got[i] == 0 for i in range(n))
    # the driver finished the whole graph, a contracted remainder after
    # distributed rounds, or (bound 0) only the empty graph they left
    assert [len(e) for e in finished] == [{None: n - 1, 4: 3, 0: 0}[bound]]


@pytest.mark.parametrize("bound", _CC_BOUNDS)
def test_min_label_components_without_edges_is_all_singletons(spark, monkeypatch, bound):
    """No pair survives (or none exists): every node is its own
    component, on every path."""
    from pyspark.sql import functions as F

    D = _with_bound(monkeypatch, bound)
    pairs = spark.createDataFrame([(5, 5)], "doc_a long, doc_b long")  # self-loop only
    nodes = spark.range(6).select(F.col("id").alias("doc_id"))
    out = D.min_label_components(pairs, nodes)
    assert sorted(tuple(r) for r in out.collect()) == [(i, i) for i in range(6)]
    assert out.schema.simpleString() == "struct<doc_id:bigint,component:bigint>"


#: jobs dedup_components submits at sf0.001 over memoized pairs (measured)
DEDUP_COMPONENTS_MAX_JOBS = 6


def test_dedup_components_job_count_is_pinned(spark, sf_dir, fresh_memo):
    """dedup_components at sf0.001 over memoized pairs: the pair-graph
    checkpoint, ONE bounded probe that finishes the graph on the driver,
    and the sink (6 jobs measured). With every contraction round on the
    cluster, each round cost checkpoints plus isEmpty probes: 26 jobs
    measured the same way. A new per-round round trip fails the cap."""
    from etl_financial_report_spark.io import load_table
    from etl_financial_report_spark.operators.dedup import (
        dedup_components,
        dedup_minhash_lsh_pairs,
    )

    sc = spark.sparkContext
    dedup_minhash_lsh_pairs(spark, sf_dir).count()  # warm the memo
    group = "dedup-components-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = dedup_components(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store fills async
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    assert len(jobs) <= DEDUP_COMPONENTS_MAX_JOBS, [
        sc._jsc.sc().statusStore().job(j).name() for j in jobs
    ]


def test_funnel_semantic_certificate_reroots_on_survivors(spark, tmp_path):
    """ADVICE r10 (funnel stage 4): if stages 1-3 remove the REPRESENTATIVE
    of an exact-embedding group, the surviving exact twins must still get
    a certificate edge between each other. The old code filtered the
    full-corpus certificate (star edges all rooted at the dead rep) to
    survivors — zero edges survived and BOTH twins silently passed
    stage 4. The re-rooted certificate recomputes representatives over
    the survivor set, so exactly one twin drops."""
    from etl_financial_report_spark.operators.dedup import pipeline_dedup_funnel

    root = str(tmp_path)
    texts = {i: " ".join(f"tok{i}w{j}" for j in range(12)) for i in range(10)}
    texts[1] = texts[0]  # exact text copy -> stage 1 drops doc 1
    docs = spark.createDataFrame(
        [(i, texts[i], "en", "src1", len(texts[i])) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{root}/documents.parquet")

    dim = 16
    ones = [1.0] * dim

    def onehot(k):
        v = [0.0] * dim
        v[k % dim] = 1.0
        return v

    # vectors 1,2,3 are an exact-identical group (rep = vec 1 = the doc
    # stage 1 kills); every other vector is one-hot (pairwise cosine 0)
    emb = spark.createDataFrame(
        [(i, ones if i in (1, 2, 3) else onehot(i), 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.parquet(f"{root}/embeddings.parquet")

    out = {r.stage: r for r in pipeline_dedup_funnel(spark, root).collect()}
    assert out["exact"].n_dropped == 1       # doc 1, the group rep
    assert out["chunk_heavy"].n_dropped == 0
    assert out["lsh_near_dup"].n_dropped == 0
    # survivors 2 and 3 are exact embedding twins whose group rep died in
    # stage 1: the re-rooted certificate pairs them (star edge rooted at
    # the SURVIVOR-set rep, vec 2), so exactly one drops
    assert out["semantic"].n_dropped == 1
    assert out["semantic"].n_out == 8
