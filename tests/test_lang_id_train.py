"""Trained language-ID (VERDICT r12 item 3): one-vs-rest perceptrons
over hashed unigrams against documents.lang, reusing the quality
classifier's exact-integer machinery. Pins:

  * held-out discipline — mutating ONLY the held-out docs' text leaves
    the trained weights bit-identical (they contribute no gradient);
  * the prediction is the argmax of the per-class margins with the
    smallest-class tie-break, recomputed independently here;
  * weights persist through the index store: a fresh session classifies
    with the trainer forbidden;
  * a separable corpus is learned perfectly while the lexicon baseline
    (whose markers don't cover it) is not — the eval orders them.
"""

import pytest
from pyspark.sql import functions as F

import etl_financial_report_spark.io as IO
from etl_financial_report_spark.operators import quality as Q
from etl_financial_report_spark.operators import textops as T

SF = "/root/testdata/sf0.001"


def _write_docs(spark, path, rows):
    df = spark.createDataFrame(
        [(i, t, lang, "srcX", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(path / "documents.parquet"))
    return str(path)


#: a cleanly separable two-language corpus: 'aaa bbb' docs are xx,
#: 'ccc ddd' docs are yy — none of the words are LANG_MARKERS, so the
#: lexicon scores every doc 0 (argmax falls to the alphabetical default)
#: while the perceptron separates in one round
_SEP = [
    (i, "aaa bbb aaa", "xx") if i % 2 else (i, "ccc ddd ccc", "yy")
    for i in range(1, 41)
]


@pytest.fixture()
def no_store(monkeypatch, fresh_memo):
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", False)


def test_held_out_docs_contribute_no_gradient(spark, tmp_path, no_store):
    sf_a = _write_docs(spark, tmp_path / "a", _SEP)
    mutated = [
        (i, "zzz qqq zzz", lang) if i % T.LID_EVAL_MOD == 0 else (i, t, lang)
        for i, t, lang in _SEP
    ]
    sf_b = _write_docs(spark, tmp_path / "b", mutated)
    wa = sorted(tuple(r) for r in T._lid_weights_build(spark, sf_a).collect())
    wb = sorted(tuple(r) for r in T._lid_weights_build(spark, sf_b).collect())
    assert wa == wb, "held-out text must never reach a gradient"


def test_prediction_is_argmax_with_min_class_tiebreak(spark, tmp_path, no_store):
    sf = _write_docs(spark, tmp_path / "c", _SEP)
    margins = {}
    for r in (
        T._lid_feats(IO.load_table(spark, sf, "documents"))
        .join(F.broadcast(T._lid_weights(spark, sf)), "f")
        .groupBy("doc_id", "cls")
        .agg(F.expr(Q.PERCEPTRON_DOT).cast("long").alias("m"))
        .collect()
    ):
        margins.setdefault(r["doc_id"], {})[r["cls"]] = r["m"]
    for row in T.text_lang_id_train(spark, sf).collect():
        per = margins[row["doc_id"]]
        want = min(per, key=lambda c: (-per[c], c))
        assert row["pred_lang"] == want
        assert row["margin"] == per[want]


def test_separable_corpus_learned_and_beats_lexicon(spark, tmp_path, no_store):
    sf = _write_docs(spark, tmp_path / "d", _SEP)
    rows = T.text_lang_id_train(spark, sf).collect()
    assert all(r["agrees_with_label"] for r in rows), (
        "a linearly separable corpus must be learned exactly"
    )
    ev = T.text_lang_id_train_eval(spark, sf).collect()

    def acc(model):
        tot = sum(r["n_docs"] for r in ev if r["model"] == model)
        hit = sum(
            r["n_docs"]
            for r in ev
            if r["model"] == model and r["lang"] == r["pred_lang"]
        )
        return hit, tot

    th, tt = acc("trained")
    lh, lt = acc("lexicon")
    assert th == tt and tt > 0
    assert lh < lt, "markers cover none of this vocabulary"


def test_weights_ride_the_index_store(spark, tmp_path, monkeypatch, fresh_memo):
    monkeypatch.setattr(IO, "INDEX_STORE_ROOT", str(tmp_path / "store"))
    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", True)
    want = sorted(tuple(r) for r in T.text_lang_id_train(spark, SF).collect())
    IO._MEMO_FRAMES.clear()  # "fresh session"

    def boom(*a, **k):
        raise AssertionError("trainer must not run on a store hit")

    monkeypatch.setattr(T, "_lid_weights_build", boom)
    got = sorted(tuple(r) for r in T.text_lang_id_train(spark, SF).collect())
    assert got == want


def test_chargram_features_disjoint_ranges(spark, tmp_path, no_store):
    """The char-gram feature stream occupies [LID_NF, LID_NF + LID_NC)
    — disjoint from word buckets [0, LID_NF) and the bias at -1 — and a
    doc shorter than the gram width contributes no gram rows (the
    sequence()-descends guard, same hazard as _bigram_structs)."""
    sf = _write_docs(
        spark, tmp_path / "rg", [(1, "aaa bbb", "xx"), (2, "ab", "yy")]
    )
    fb = T._lid_feats(
        IO.load_table(spark, sf, "documents"), chargrams=True
    ).collect()
    fs = {r["f"] for r in fb}
    assert all(-1 <= f < T.LID_NF + T.LID_NC for f in fs)
    assert any(f >= T.LID_NF for f in fs), "char grams present"
    # doc 2 ('ab', 2 chars) has word buckets + bias but NO char grams
    d2 = {r["f"] for r in fb if r["doc_id"] == 2}
    assert all(f < T.LID_NF for f in d2)
    # doc 1: 'aaa bbb' has 5 char-3-grams and 4 char-4-grams = 9 gram
    # occurrences total across its char-bucket rows
    d1c = sum(r["c"] for r in fb if r["doc_id"] == 1 and r["f"] >= T.LID_NF)
    assert d1c == 9


def test_chargram_model_separates_and_eval_is_three_way(
    spark, tmp_path, no_store
):
    """The +chargram model still learns the separable corpus exactly,
    and the eval now reports all three models over the identical
    held-out slice."""
    sf = _write_docs(spark, tmp_path / "cg", _SEP)
    rows = T.text_lang_id_train_cg(spark, sf).collect()
    assert rows and all(r["agrees_with_label"] for r in rows)
    ev = T.text_lang_id_train_eval(spark, sf).collect()
    assert {r["model"] for r in ev} == {"lexicon", "trained", "trained_cg"}
    n_ho = {
        m: sum(r["n_docs"] for r in ev if r["model"] == m)
        for m in ("lexicon", "trained", "trained_cg")
    }
    assert len(set(n_ho.values())) == 1, "same held-out slice for all models"


def test_chargram_model_generalizes_to_unseen_words(spark, tmp_path, no_store):
    """VERDICT r13 item 1's actual claim — language identity lives in
    character n-grams — proven where it is measurable: every HELD-OUT
    doc is written in words NEVER SEEN in training, but sharing the
    training words' char-3/4-grams. The word-unigram model's held-out
    features all hash to untrained buckets (margin = bias only, ties
    break to the alphabetically smallest class -> it predicts 'xx' for
    everything, 50%); the +chargram model classifies all 8 held-out
    docs exactly.

    (The driver testdata cannot host this comparison: its lang labels
    are statistically independent of text — max word-lang association
    z-score 2.45 over ~300 cells at sf0.01, pure noise — so EVERY
    model's held-out ceiling there is the majority-class prior, the
    '41%' VERDICT r13 reports for the word model. The three-way eval
    still runs on testdata for the shape/parity gate; the accuracy
    ordering is asserted here, on signal.)"""
    rows = []
    for i in range(1, 41):
        held_out = i % T.LID_EVAL_MOD == 0
        if i % 2:
            txt = "abab ababababab abab" if held_out else "ababab abababab ababab"
            rows.append((i, txt, "xx"))
        else:
            txt = "cdcd cdcdcdcdcd cdcd" if held_out else "cdcdcd cdcdcdcd cdcdcd"
            rows.append((i, txt, "yy"))
    sf = _write_docs(spark, tmp_path / "oov", rows)

    def acc(scored):
        ho = [r for r in scored.collect() if r["held_out"]]
        assert len(ho) == 8
        return sum(r["pred_lang"] == r["lang"] for r in ho) / len(ho)

    a_w = acc(T.text_lang_id_train(spark, sf))
    a_cg = acc(T.text_lang_id_train_cg(spark, sf))
    assert a_cg == 1.0, f"chargram generalizes across word boundaries: {a_cg}"
    assert a_w <= 0.5, f"word-unigram cannot score unseen words: {a_w}"


def test_lang_temperature_mixture_flattens_predicted_head(
    spark, tmp_path, no_store
):
    """The r13 consumer of the trained lang-id: on a separable two-
    language corpus (learned exactly), the temperature weights flatten
    the head — the minority language's temp share exceeds its raw share
    and quotas follow the floor(sqrt) grammar recomputed here."""
    import math

    from etl_financial_report_spark.operators.sampling import (
        sample_lang_temperature_mixture,
    )

    # 30 xx docs vs 10 yy docs: separable AND imbalanced
    rows = [
        (i, "aaa bbb aaa", "xx") if i % 4 else (i, "ccc ddd ccc", "yy")
        for i in range(1, 41)
    ]
    sf = _write_docs(spark, tmp_path / "mix", rows)
    out = {r["pred_lang"]: r for r in sample_lang_temperature_mixture(spark, sf).collect()}
    assert set(out) == {"xx", "yy"}  # learned exactly, so predictions = labels
    n = {k: v["n_docs"] for k, v in out.items()}
    assert n == {"xx": 30, "yy": 10}
    isq = {k: math.floor(math.sqrt(v)) for k, v in n.items()}
    tot_d, tot_i = sum(n.values()), sum(isq.values())
    for k, r in out.items():
        assert r["isqrt"] == isq[k]
        assert r["raw_ppm"] == math.floor(n[k] * 1_000_000 / tot_d)
        assert r["temp_ppm"] == math.floor(isq[k] * 1_000_000 / tot_i)
        assert r["quota_docs"] == math.floor(tot_d * isq[k] / tot_i)
    # flattening: the minority language gains share, the majority loses
    assert out["yy"]["temp_ppm"] > out["yy"]["raw_ppm"]
    assert out["xx"]["temp_ppm"] < out["xx"]["raw_ppm"]


def test_arrow_feat_kernel_matches_expression_reference(spark):
    """The r14 mapInArrow feature kernel must emit the exact row multiset
    the old explode+hash32-expression pipeline produced — pinned against
    an expression-built reference on a hostile fixture (empty text,
    multi-space runs, unicode, docs shorter than the gram widths)."""
    from etl_financial_report_spark.functions.hashing import hash32

    docs = spark.createDataFrame(
        [
            (1, ""),                       # split(' ') -> [''] in both engines
            (2, "ab"),                     # shorter than both gram widths
            (3, "a  b"),                   # double space -> empty middle token
            (4, "héllo wörld héllo"),      # non-ASCII codepoints
            (5, "x" * 9),                  # single long token, overlapping grams
        ],
        "doc_id long, text string",
    )
    for chargrams in (False, True):
        got = T._lid_feats(docs, chargrams)
        # reference: per-token / per-gram hash32 buckets via expressions
        toks = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("g")
        ).select("doc_id", (hash32(F.col("g")) % T.LID_NF).alias("f"))
        ref = toks
        if chargrams:
            for w in T.LID_CG_WIDTHS:
                grams = F.expr(
                    f"transform(sequence(1, length(text) - {w - 1}),"
                    f" i -> substring(text, i, {w}))"
                )
                guarded = F.when(F.length("text") >= w, grams).otherwise(
                    F.array().cast("array<string>")
                )
                ref = ref.unionByName(
                    docs.select("doc_id", F.explode(guarded).alias("g")).select(
                        "doc_id",
                        (F.lit(T.LID_NF) + hash32(F.col("g")) % T.LID_NC).alias("f"),
                    )
                )
        ref = ref.groupBy("doc_id", "f").agg(
            F.count(F.lit(1)).alias("c")
        ).unionByName(
            docs.select(
                "doc_id",
                F.lit(-1).cast("long").alias("f"),
                F.lit(1).cast("long").alias("c"),
            )
        )
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
