"""The trained-model kernels every caller shares: nearest-centroid
ranking (operators/similarity._nearest_cells, and its oracle twin
_nearest_cells_sql run in DuckDB), centroid sums (_centroid_sums) and
the integer batch perceptron (operators/quality.perceptron_weights).
Pins, on hand-built frames:

  * ties between identical centroids go to the lower cid, unkeyed and
    keyed by subspace; k > 1 ranks in (cos desc, cid asc) order; a
    zero-norm centroid never ranks — the same in the engine and the SQL;
  * centroid sums are the exact per-dimension member sums with their
    squared norm and member count, per key, zero-norm sums kept;
  * the perceptron, binary and one-vs-rest, equals a pure-Python integer
    batch perceptron round for round, and a zero margin is a mistake.
"""

import random
from collections import defaultdict

import duckdb
import pandas as pd
import pytest

from etl_financial_report_spark.operators import quality as Q
from etl_financial_report_spark.operators import similarity as S


def _vecs(spark, rows, keyed=False):
    key = "m long, " if keyed else ""
    return spark.createDataFrame(
        [(*r[:-1], r[-1], sum(x * x for x in r[-1])) for r in rows],
        f"vec_id long, {key}qe array<bigint>, nsq bigint",
    )


def _book(spark, rows, keyed=False):
    key = "m long, " if keyed else ""
    return spark.createDataFrame(
        [(*r[:-1], r[-1], sum(x * x for x in r[-1])) for r in rows],
        f"{key}cid long, c_qe array<bigint>, c_nsq bigint",
    )


#: cid 3 and cid 5 are the same direction, cid 1 its orthogonal, cid 0
#: zero-norm; vector 12 ties all three nonzero cells exactly
_BOOK = [(0, [0, 0]), (5, [1, 0]), (3, [4, 0]), (1, [0, 1])]
_VECS = [(10, [2, 0]), (11, [0, 3]), (12, [1, 1])]


def _long_form(rows, key):
    return pd.DataFrame(
        [(r[0], i, x) for r in rows for i, x in enumerate(r[1], 1)], columns=[key, "i", "v"]
    )


def _nearest(spark, impl, k=1):
    """_VECS ranked against _BOOK by the engine kernel or, in DuckDB, by
    its SQL twin over the long-form (id, i, value) rows of both."""
    if impl == "engine":
        out = S._nearest_cells(_vecs(spark, _VECS), _book(spark, _BOOK), k)
        return [tuple(r) for r in out.collect()]
    con = duckdb.connect()
    con.register("ex", _long_form(_VECS, "vec_id"))
    con.register("book_rows", _long_form(_BOOK, "cid"))
    return con.sql(f"""
WITH {S._codebook_sql("bk", "SELECT cid, i, v AS cv FROM book_rows")},
norms AS (SELECT vec_id, SUM(v * v) AS nsq FROM ex GROUP BY vec_id)
{S._nearest_cells_sql("bk", k=k)}""").fetchall()


@pytest.mark.parametrize("impl", ["engine", "sql"])
def test_nearest_cell_tie_goes_to_lower_cid(spark, impl):
    assert dict(_nearest(spark, impl)) == {10: 3, 11: 1, 12: 1}


@pytest.mark.parametrize("impl", ["engine", "sql"])
def test_nearest_cells_rank_cos_desc_then_cid(spark, impl):
    ranked = defaultdict(list)
    for vec_id, cell, _rank in sorted(_nearest(spark, impl, None), key=lambda r: (r[0], r[2])):
        ranked[vec_id].append(cell)
    # the zero-norm cid 0 never ranks
    assert dict(ranked) == {10: [3, 5, 1], 11: [1, 3, 5], 12: [1, 3, 5]}
    assert sorted(_nearest(spark, impl, 2)) == [
        (10, 3, 1), (10, 5, 2), (11, 1, 1), (11, 3, 2), (12, 1, 1), (12, 3, 2),
    ]


def test_nearest_cells_keyed_by_subspace(spark):
    # subspace 0 reuses the unkeyed book; subspace 1's tie is between
    # cid 7 and cid 2, and its book must never leak into subspace 0
    book = [(0, *r) for r in _BOOK] + [(1, 7, [0, 2]), (1, 2, [0, 5]), (1, 9, [3, 0])]
    vecs = [(v, 0, q) for v, q in _VECS] + [(10, 1, [0, 1]), (11, 1, [2, 0])]
    got = {
        (r["vec_id"], r["m"]): r["cell"]
        for r in S._nearest_cells(
            _vecs(spark, vecs, keyed=True), _book(spark, book, keyed=True), 1, ("m",)
        ).collect()
    }
    assert got == {(10, 0): 3, (11, 0): 1, (12, 0): 1, (10, 1): 2, (11, 1): 9}


def test_centroid_sums_per_key(spark):
    members = spark.createDataFrame(
        [
            (0, 1, [1, 2, 3]),
            (0, 1, [4, -5, 6]),
            (0, 2, [7, 0, 0]),
            (1, 1, [1, -1, 0]),
            (1, 1, [-1, 1, 0]),
        ],
        "m long, cell long, qe array<bigint>",
    )
    got = sorted(tuple(r) for r in S._centroid_sums(members, ("m",)).collect())
    assert got == [
        (0, 1, [5, -3, 9], 25 + 9 + 81, 2),
        (0, 2, [7, 0, 0], 49, 1),
        (1, 1, [0, 0, 0], 0, 2),  # zero-norm sums stay
    ]
    unkeyed = S._centroid_sums(members.where("m = 0").drop("m"))
    assert sorted(tuple(r) for r in unkeyed.collect()) == [tuple(g[1:]) for g in got[:2]]


def _py_perceptron(feats, labels, rounds):
    """Reference integer batch perceptron: ``feats`` doc -> [(f, c)],
    ``labels`` (doc, *key) -> y; weights (*key, f) -> w. A row is
    re-checked only when some weight of its key meets one of its
    features (the engine's inner join of labels and margins)."""
    w, mis = {}, dict(labels)
    for r in range(1, rounds + 1):
        up = defaultdict(int)
        for (doc, *key), y in mis.items():
            for f, c in feats[doc]:
                up[(*key, f)] += c * y
        for k, dw in up.items():
            w[k] = w.get(k, 0) + dw
        if r < rounds:
            mis = {}
            for (doc, *key), y in labels.items():
                hits = [c * w[(*key, f)] for f, c in feats[doc] if (*key, f) in w]
                if hits and y * sum(hits) <= 0:
                    mis[(doc, *key)] = y
    return w


def _stream(n_docs=40, n_feats=6, seed=7):
    rnd = random.Random(seed)
    feats = {
        d: [(-1, 1)] + [(f, rnd.randint(1, 3)) for f in rnd.sample(range(n_feats), 3)]
        for d in range(n_docs)
    }
    return feats, {d: rnd.choice("abc") for d in range(n_docs)}


@pytest.mark.parametrize("by", [(), ("cls",)])
def test_perceptron_matches_python_reference(spark, by):
    feats, cls_of = _stream()
    if by:
        labels = {(d, k): 1 if c == k else -1 for d, c in cls_of.items() for k in "abc"}
    else:
        labels = {(d,): 1 if c == "a" else -1 for d, c in cls_of.items()}
    fb = spark.createDataFrame(
        [(d, f, c) for d, fs in feats.items() for f, c in fs], "doc_id long, f long, c long"
    )
    lab = spark.createDataFrame(
        [(*k, y) for k, y in labels.items()],
        "doc_id long, " + "".join(f"{b} string, " for b in by) + "y int",
    )
    want = _py_perceptron(feats, labels, 3)
    # later rounds must matter on this stream, or the check is weak
    assert want != _py_perceptron(feats, labels, 1)
    got = {
        tuple(r)[:-1]: r["w"] for r in Q.perceptron_weights(fb, lab, 3, by).collect()
    }
    assert got == want


@pytest.mark.parametrize("by", [(), ("cls",)])
def test_perceptron_zero_margin_is_a_mistake(spark, by):
    # round 1 leaves w(1) = w(2) = 0, so docs 0-2 score exactly 0 and
    # must update again in round 2: w(2) becomes +1
    feats = {0: [(1, 1)], 1: [(1, 1)], 2: [(2, 1)], 3: [(2, 1), (3, 1)]}
    ys = {0: 1, 1: -1, 2: 1, 3: -1}
    fb = spark.createDataFrame(
        [(d, f, c) for d, fs in feats.items() for f, c in fs], "doc_id long, f long, c long"
    )
    cls = ("a",) if by else ()
    lab = spark.createDataFrame(
        [(d, *cls, y) for d, y in ys.items()],
        "doc_id long, " + "".join(f"{b} string, " for b in by) + "y int",
    )
    got = {tuple(r)[:-1]: r["w"] for r in Q.perceptron_weights(fb, lab, 2, by).collect()}
    assert got == {(*cls, 1): 0, (*cls, 2): 1, (*cls, 3): -1}
