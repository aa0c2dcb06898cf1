"""Invariants for the corpus quality-filter operators (operators/quality.py)
that the DuckDB value-hash can't express: metric ranges, gate consistency,
and redaction completeness.
"""

from pyspark.sql import functions as F

from etl_financial_report_spark.operators.quality import (
    BOILERPLATE_MIN_DOCS,
    BOILERPLATE_TOP_K,
    GOPHER_MAX_MEAN_WORD_LEN,
    GOPHER_MAX_TOKENS,
    GOPHER_MIN_MEAN_WORD_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_TOKENS,
    MAX_DUP_BIGRAM_FRAC,
    MAX_TOP_TOKEN_FRAC,
    SPAN_N,
    dedup_span_scrub,
    text_boilerplate_ngrams,
    text_gopher_gate,
    text_redact_numbers,
    text_repetition_stats,
    text_token_rarity,
)


def test_repetition_metrics_are_fractions_and_gate_is_consistent(spark, sf_dir):
    rows = text_repetition_stats(spark, sf_dir)
    bad = rows.where(
        (F.col("top_token_frac") < 1.0 / F.col("n_tokens"))  # floor: 1/n when all distinct
        | (F.col("top_token_frac") > 1.0)
        | (F.col("dup_bigram_frac") < 0.0)
        | (F.col("dup_bigram_frac") > 1.0)
        | (
            F.col("passes_repetition")
            != (
                (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
                & (F.col("dup_bigram_frac") <= MAX_DUP_BIGRAM_FRAC)
            )
        )
    )
    assert bad.count() == 0


def test_repetition_covers_every_doc(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert text_repetition_stats(spark, sf_dir).count() == docs.count()


def test_boilerplate_respects_threshold_and_topk(spark, sf_dir):
    rows = text_boilerplate_ngrams(spark, sf_dir).collect()
    assert len(rows) <= BOILERPLATE_TOP_K
    assert all(r.n_docs >= BOILERPLATE_MIN_DOCS for r in rows)
    assert all(r.n_total >= r.n_docs for r in rows)
    # top-K ordering: n_total descending, gram as total-order tiebreak
    keys = [(-r.n_total, r.gram) for r in rows]
    assert keys == sorted(keys)


def test_token_rarity_bounds(spark, sf_dir):
    rows = text_token_rarity(spark, sf_dir)
    bad = rows.where(
        (F.col("n_rare") > F.col("n_tokens"))
        | (F.col("rare_frac") < 0.0)
        | (F.col("rare_frac") > 1.0)
        | (F.col("rarest_token_freq") < 1)
    )
    assert bad.count() == 0


def test_gopher_gate_verdict_is_the_and_of_its_rules(spark, sf_dir):
    rows = text_gopher_gate(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rows.count() == docs.count()  # a gate scores EVERY doc
    bad = rows.where(
        (F.col("keep") != (
            F.col("passes_word_count") & F.col("passes_word_length") & F.col("passes_stopwords")
        ))
        | (F.col("passes_word_count") != F.col("n_tokens").between(
            GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS))
        | (F.col("passes_word_length") != F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN))
        | (F.col("passes_stopwords") != (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS))
    )
    assert bad.count() == 0


def test_gopher_gate_every_rule_binds(spark, sf_dir):
    # a rule that passes or fails everything is untested calibration
    rows = text_gopher_gate(spark, sf_dir)
    n = rows.count()
    for rule in ("passes_word_count", "passes_word_length", "passes_stopwords"):
        k = rows.where(F.col(rule)).count()
        assert 0 < k < n, f"{rule} never binds ({k}/{n})"


def test_gopher_gate_plan_has_no_shuffle(spark, sf_dir):
    # the gate is one projection over the scan — an Exchange would mean a
    # rule leaked into an aggregate
    plan = text_gopher_gate(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_span_scrub_conservation_and_short_doc_passthrough(spark, sf_dir):
    rows = dedup_span_scrub(spark, sf_dir)
    recount = F.when(F.col("scrubbed_text") == "", F.lit(0)).otherwise(
        F.size(F.split("scrubbed_text", " "))
    )
    bad = rows.where(
        (F.col("n_dropped") < 0)
        | (F.col("n_dropped") > F.col("n_tokens"))
        | (recount != F.col("n_tokens") - F.col("n_dropped"))
    )
    assert bad.count() == 0
    # docs shorter than a span have no spans and are untouched
    assert rows.where((F.col("n_tokens") < SPAN_N) & (F.col("n_dropped") > 0)).count() == 0


def test_span_scrub_removes_only_cross_doc_spans(spark, sf_dir):
    # every scrubbed doc must share at least one positional span with some
    # OTHER doc (the cross-document criterion, not within-doc repetition)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    spans = docs.where(F.size("toks") >= SPAN_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1)),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", *[F.element_at(F.col("toks"), i + k) for k in range(SPAN_N)]
                    )
                ),
            )
        ).alias("sh"),
    )
    cross = (
        spans.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("c"))
        .where(F.col("c") >= 2)
        .join(spans, "sh")
        .select("doc_id")
        .distinct()
    )
    scrubbed = dedup_span_scrub(spark, sf_dir).where(F.col("n_dropped") > 0).select("doc_id")
    assert scrubbed.join(cross, "doc_id", "left_anti").count() == 0


def test_redaction_removes_every_digit(spark, sf_dir):
    rows = text_redact_numbers(spark, sf_dir)
    assert rows.where(F.col("redacted").rlike("[0-9]")).count() == 0
    # the synthetic props payloads all carry at least one numeric literal
    assert rows.where(F.col("n_redactions") >= 1).count() == rows.count()


def test_quality_classifier_learns_separable_gate(spark, tmp_path, fresh_memo):
    """r12 trained quality classifier: on a corpus where the weak label
    is cleanly determined by doc shape, the perceptron must classify the
    HELD-OUT slice (doc_id % QC_EVAL_MOD == 0, which contributed no
    gradient) essentially perfectly, and the scored frame must flag
    exactly that slice as held out."""
    from etl_financial_report_spark.operators.quality import (
        QC_EVAL_MOD,
        text_quality_classifier,
        text_quality_classifier_eval,
    )

    # keep docs: 2 stopwords + 18 five-letter words -> n=20,
    # mean_wl=(3+3+18*5)/20=4.8, stopwords=2 (all three gates pass);
    # reject docs: 8 tokens (word-count violation)
    good = "the and " + " ".join(f"alpha" for _ in range(18))
    bad = " ".join("beta" for _ in range(8))
    rows = []
    for i in range(60):
        rows.append((i, good if i % 2 == 0 else bad, "en", "s", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in text_quality_classifier(spark, str(tmp_path)).collect()}
    assert len(out) == 60
    for d, r in out.items():
        assert r.held_out == (d % QC_EVAL_MOD == 0)
        assert r.weak_label == (1 if d % 2 == 0 else -1)
    held = [r for r in out.values() if r.held_out]
    assert held and all(
        r.predicted_keep == (r.weak_label == 1) for r in held
    ), "held-out slice must be separated on a separable corpus"
    ev = text_quality_classifier_eval(spark, str(tmp_path)).collect()
    assert sum(r.n for r in ev) == len(held)
    diag = {(r.actual_keep, r.predicted_keep): r for r in ev}
    assert diag[(True, True)].cell_ppm == 1_000_000
    assert diag[(False, False)].cell_ppm == 1_000_000


def test_quality_threshold_sweep_monotone(spark, sf_dir):
    """r12 operating-point sweep: bars are the held-out margin deciles
    (non-decreasing), raising the bar can only shrink the keep set and
    the recall, and every row's counts come from the same held-out
    population."""
    from etl_financial_report_spark.operators.quality import (
        text_quality_threshold_sweep,
    )

    rows = sorted(
        text_quality_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 10))
    for a, b in zip(rows, rows[1:]):
        assert a.bar <= b.bar
        assert a.n_keep >= b.n_keep
        assert a.keep_ppm >= b.keep_ppm
        assert (a.recall_ppm or 0) >= (b.recall_ppm or 0)
    # keep_ppm is exactly rank arithmetic on the decile bars
    assert all(r.keep_ppm <= 1_000_000 for r in rows)


def test_qc_bars_eviction_frees_slice_and_bars(spark, sf_dir, fresh_memo, monkeypatch):
    """ADVICE r15: the sweep's memoized (held-out slice, decile bars)
    entry owns both localCheckpoints, so evicting it frees their blocks
    instead of leaking them."""
    import etl_financial_report_spark.io as IO
    from etl_financial_report_spark.operators.quality import _qc_scored, qc_sweep_frame

    monkeypatch.setattr(IO, "INDEX_STORE_ENABLED", False)
    qc_sweep_frame(spark, _qc_scored(spark, sf_dir), memo_sf_dir=sf_dir).collect()
    key = next(k for k in IO._MEMO_FRAMES if k[3] == "qc_bars")
    (ev, bars), ids = IO._MEMO_FRAMES[key]
    pinned = {
        df._jdf.queryExecution().analyzed().rdd().id() for df in (ev, bars)
    }
    assert len(pinned) == 2 and pinned <= ids <= IO._persistent_rdd_ids(spark)
    # one entry that pins nothing, with the cap at one, evicts the rest
    monkeypatch.setattr(IO, "_MEMO_FRAMES_MAX", 1)
    IO.session_memo(spark, sf_dir, "documents", "filler", (), lambda: None)
    assert key not in IO._MEMO_FRAMES
    assert not (ids & IO._persistent_rdd_ids(spark))
