"""Corpus quality-filter operators (north-star surface, SURVEY.md §2.10):
the standard LLM-training-data gates — repetition filters (Gopher-style),
cross-document boilerplate detection, corpus-frequency rarity scoring
(CCNet-style, without the LM), and PII-shape redaction.

All native Spark expressions; the only shuffles are the per-token/span
aggregations, which are two-phase (partial map-side combine). Dimension
sides are bounded before any broadcast (the rarity vocabulary is capped
at its top-K head); unbounded dimensions (the span space) stay in
co-partitioned shuffles, never a broadcast. Cross-engine determinism:
integer counts throughout, a single double division at the end
(registry.py header rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import exact_dup_key
from ..functions.topk import topk_per_key
from ..io import driver_frame, load_table
from ..registry import register

#: a token is "rare" when it covers < 1% of the corpus token stream —
#: a relative threshold so the operator is scale-factor independent.
RARE_PCT = 1

#: repetition-gate thresholds (Gopher table A1 shape, constants adapted
#: to the synthetic corpus: 31-word vocabulary -> high natural repetition)
MAX_TOP_TOKEN_FRAC = 0.30
MAX_DUP_BIGRAM_FRAC = 0.90

#: boilerplate = a trigram seen in at least this many distinct documents
#: (4 yields a real top-K on the synthetic corpus at every SF; real corpora
#: would set this far higher)
BOILERPLATE_MIN_DOCS = 4
BOILERPLATE_TOP_K = 20


def _toks(col: str = "text") -> F.Column:
    return F.split(col, " ")


@register(
    "text_repetition_stats",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bg AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
    FROM t
),
cnt AS (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY doc_id, tok
),
top AS (
    SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_token_frac
    FROM cnt GROUP BY doc_id
)
SELECT bg.doc_id,
       bg.n_tokens,
       top.top_token_frac,
       CASE WHEN len(bigrams) > 0
            THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
            ELSE 0.0 END AS dup_bigram_frac,
       (top.top_token_frac <= 0.30
        AND CASE WHEN len(bigrams) > 0
                 THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                 ELSE 0.0 END <= 0.90)
           AS passes_repetition
FROM bg JOIN top ON bg.doc_id = top.doc_id
""",
    doc=(
        "Gopher-style repetition filter: most-common-token fraction (explode -> "
        "two-phase agg) + duplicate-bigram fraction (array-native, zero shuffle) "
        "+ the pass/fail gate. The two metric families meet in one equi-join on "
        "doc_id; at scale both sides share the scan and the join is co-partitioned."
    ),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    # bigram i = toks[i] + ' ' + toks[i+1]; zip the array against its own
    # tail so the whole thing stays inside one projection (no shuffle)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # a 1-token doc has zero bigrams: no duplication evidence -> 0.0, and
    # under ANSI the unguarded 0/0 double division THROWS (hostile net)
    dup_frac = F.when(
        F.size(bigrams) > 0,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams),
    ).otherwise(F.lit(0.0))
    doc_level = docs.select(
        "doc_id", n.alias("n_tokens"), dup_frac.alias("dup_bigram_frac")
    )
    top = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_token_frac"))
    )
    return doc_level.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_bigram_frac",
        (
            (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
            & (F.col("dup_bigram_frac") <= MAX_DUP_BIGRAM_FRAC)
        ).alias("passes_repetition"),
    )


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
tri AS (
    SELECT doc_id, unnest(
        list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
    FROM t
)
SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
FROM tri
GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_total DESC, gram
LIMIT {BOILERPLATE_TOP_K}
""",
    doc=(
        "Cross-document boilerplate detection: explode trigrams, count distinct "
        "documents per gram, keep grams shared by >= N docs, top-K by frequency "
        "with a total-order tiebreak. The classic header/footer/license-block "
        "finder; one shuffle on gram with map-side partial aggregation."
    ),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    # 1-2 token docs have no trigrams; slice length must clamp at 0 (a
    # negative length is an ANSI error — hostile net)
    n3 = F.greatest(F.lit(0), n - 2)
    trigrams = F.zip_with(
        F.slice(toks, 1, n3),
        F.zip_with(
            F.slice(toks, 2, n3), F.slice(toks, 3, n3), lambda b, c: F.concat_ws(" ", b, c)
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    return (
        docs.select("doc_id", F.explode(trigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"), F.count(F.lit(1)).alias("n_total"))
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_total"), "gram")
        .limit(BOILERPLATE_TOP_K)
    )


#: broadcast-vocabulary cap: only the top-K most frequent tokens ride the
#: broadcast; everything in the tail is by definition rare (it is at most as
#: frequent as the K-th token). Web corpora have billions of distinct tokens
#: — an unbounded vocabulary broadcast OOMs every executor — but rarity only
#: needs exact counts for the HEAD of the Zipf curve (the CCNet shape).
VOCAB_TOP_K = 1024

#: corpus frequency assumed for out-of-vocabulary (tail) tokens
TAIL_FREQ = 1


@register(
    "text_token_rarity",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (
    SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
),
vocab AS (
    SELECT tok, cnt, (cnt * 100 < (SELECT SUM(cnt) FROM freq) * {RARE_PCT}) AS is_rare
    FROM freq
    ORDER BY cnt DESC, tok
    LIMIT {VOCAB_TOP_K}
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN COALESCE(f.is_rare, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN COALESCE(f.is_rare, TRUE) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS rare_frac,
       CAST(MIN(COALESCE(f.cnt, {TAIL_FREQ})) AS BIGINT) AS rarest_token_freq
FROM tok t LEFT JOIN vocab f ON t.tok = f.tok
GROUP BY t.doc_id
""",
    doc=(
        "CCNet-style rarity scoring without the LM: per-doc rare-token "
        "fraction and rarest-token frequency against corpus frequencies. "
        "The vocabulary dimension is CAPPED at the top-K most frequent "
        f"tokens ({VOCAB_TOP_K}, deterministic count-then-token order) — the "
        "only side that rides a broadcast — and every tail token is scored "
        "rare with a default frequency, so the broadcast stays bounded at "
        "any corpus size while the token stream still never shuffles on "
        "tok. Integer counts end-to-end, one double division — "
        "cross-engine exact."
    ),
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_toks()).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    vocab = (
        freq.crossJoin(F.broadcast(total))
        .select("tok", "cnt", (F.col("cnt") * 100 < F.col("total") * RARE_PCT).alias("is_rare"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_TOP_K)
    )
    is_rare = F.coalesce(F.col("is_rare"), F.lit(True))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(is_rare, 1).otherwise(0)).alias("n_rare"),
            (F.sum(F.when(is_rare, 1).otherwise(0)).cast("double") / F.count(F.lit(1))).alias(
                "rare_frac"
            ),
            F.min(F.coalesce(F.col("cnt"), F.lit(TAIL_FREQ))).alias("rarest_token_freq"),
        )
    )


@register(
    "text_redact_numbers",
    oracle=r"""
SELECT event_id,
       regexp_replace(props, '[0-9]+(\.[0-9]+)?', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(props, '[0-9]+(\.[0-9]+)?')) AS n_redactions
FROM events
""",
    doc=(
        "PII-shape scrubbing: redact numeric literals from the semi-structured "
        "props payload and count the redactions — regexp_replace + "
        "regexp_extract_all, pure projection (no shuffle, fully codegen'd). "
        "The same shape covers emails/phones/SSNs: swap the pattern."
    ),
)
def text_redact_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pat = r"[0-9]+(\.[0-9]+)?"
    return events.select(
        "event_id",
        F.regexp_replace("props", pat, "<NUM>").alias("redacted"),
        F.size(F.regexp_extract_all("props", F.lit(pat), 0)).alias("n_redactions"),
    )


#: how many salient terms to keep per source
SALIENT_TOP_K = 5


@register(
    "text_salient_terms",
    oracle=f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
st AS (
    SELECT source, tok, COUNT(*) AS cnt FROM tok GROUP BY source, tok
),
src_tot AS (SELECT source, SUM(cnt) AS src_total FROM st GROUP BY source),
tok_tot AS (SELECT tok, SUM(cnt) AS tok_total FROM st GROUP BY tok),
tot AS (SELECT SUM(cnt) AS corpus_total FROM st),
scored AS (
    SELECT st.source, st.tok, st.cnt,
           CAST(st.cnt * tot.corpus_total AS DOUBLE)
               / CAST(tok_tot.tok_total * src_tot.src_total AS DOUBLE) AS lift
    FROM st
    JOIN src_tot USING (source)
    JOIN tok_tot USING (tok)
    CROSS JOIN tot
)
SELECT source, tok, CAST(cnt AS BIGINT) AS cnt, lift,
       CAST(rk AS INTEGER) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY lift DESC, tok) AS rk
    FROM scored
)
WHERE rk <= {SALIENT_TOP_K}
""",
    doc=(
        "Distinctive vocabulary per source — the TF-IDF shape with exact "
        "arithmetic: lift = (term share in source) / (term share in corpus) "
        "computed as one division of two int64 products (no log, so the "
        "value-hash holds cross-engine). Token counts aggregate once; the "
        "three total tables are tiny and broadcast; top-K per source via "
        "the salted two-level top-k (functions/topk.py) — a source's "
        "vocabulary is corpus-sized, so a single source-partitioned window "
        "would sort one source's whole vocab in one task. The corpus-drift "
        "/ source-fingerprinting diagnostic."
    ),
)
def text_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_toks()).alias("tok"))
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    src_tot = st.groupBy("source").agg(F.sum("cnt").alias("src_total"))
    tok_tot = st.groupBy("tok").agg(F.sum("cnt").alias("tok_total"))
    tot = st.agg(F.sum("cnt").alias("corpus_total"))
    scored = (
        # src_tot (one row per source) and the 1-row corpus total are
        # bounded -> broadcast; tok_tot is one row PER TOKEN — unbounded
        # vocabulary, so it joins by shuffle on tok (AQE may still
        # broadcast it when genuinely small)
        st.join(F.broadcast(src_tot), "source")
        .join(tok_tot, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            "cnt",
            (
                (F.col("cnt") * F.col("corpus_total")).cast("double")
                / (F.col("tok_total") * F.col("src_total")).cast("double")
            ).alias("lift"),
        )
    )
    return topk_per_key(
        scored.select("source", "tok", "cnt", "lift"),
        keys=["source"],
        order=[F.desc("lift"), F.asc("tok")],
        k=SALIENT_TOP_K,
        tiebreak=F.col("tok"),
    )


#: positional span width for cross-document duplication scoring
SPAN_N = 10

_SPAN_CONCAT_SQL = " || ' ' || ".join(f"toks[i + {k}]" for k in range(SPAN_N))


@register(
    "text_dup_span_frac",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sp AS (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) < {SPAN_N} THEN [md5(list_aggregate(toks, 'string_agg', ' '))]
                ELSE list_transform(generate_series(1, len(toks) - {SPAN_N - 1}),
                                    i -> md5({_SPAN_CONCAT_SQL}))
           END) AS sh
    FROM t
),
counted AS (
    SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS c FROM sp
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_span_frac
FROM counted
GROUP BY doc_id
""",
    doc=(
        "Cross-document duplicate-span fraction (the Gopher/Dolma "
        f"'duplicated {SPAN_N}-gram' filter): every positional {SPAN_N}-token "
        "span is hashed, counted corpus-wide, and each document scores the "
        "fraction of its spans that occur 2+ times anywhere — the metric "
        "that catches template text and boilerplate BETWEEN documents, "
        "which within-doc repetition stats (text_repetition_stats) cannot "
        "see. Spans shuffle as 16-byte md5 keys. The corpus-wide count is "
        "two-phase — groupBy(sh) then join back — NEVER a window over the "
        "span key: a window partition cannot be partially aggregated or "
        "AQE-skew-split, so one boilerplate span shared by 5% of a web "
        "corpus would put billions of rows in a single task; the groupBy "
        "absorbs the hot key map-side and the join (probe side against the "
        "collapsed distinct-dup-span frame) is AQE-splittable. Short docs "
        "fall back to one whole-text span, so every document is scored."
    ),
)
def text_dup_span_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    tokked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # positions explode + top-level md5 (optimization r14, same rewrite
    # as dedup_span_spectrum — the transform() lambda ran interpreted);
    # short docs keep their whole-text fallback span via the union branch
    sp = (
        tokked.where(F.size(toks) >= SPAN_N)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size(toks) - (SPAN_N - 1))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"md5(array_join(slice(toks, i, {SPAN_N}), ' '))").alias("sh"),
        )
        .unionByName(
            tokked.where(F.size(toks) < SPAN_N).select(
                "doc_id", F.md5(F.concat_ws(" ", toks)).alias("sh")
            )
        )
    )
    # phase 1: collapse the span stream to one row per DUPLICATED span —
    # partial aggregation makes a hot boilerplate span cheap (billions of
    # identical rows combine map-side to one count per task)
    dup_sh = (
        sp.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("sh", F.lit(1).alias("is_dup"))
    )
    # phase 2: flag each positional span against the collapsed frame; the
    # join shuffles the same (sh) key the old window did, but AQE can
    # skew-split a join probe while a window partition is indivisible
    flagged = sp.join(dup_sh, "sh", "left")
    dup = F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        dup.cast("long").alias("n_dup_spans"),
        (dup.cast("double") / F.count(F.lit(1))).alias("dup_span_frac"),
    )


@register(
    "dedup_span_scrub",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sp AS (
    SELECT doc_id, i AS start, md5({_SPAN_CONCAT_SQL}) AS sh
    FROM t, unnest(generate_series(1, len(toks) - {SPAN_N - 1})) u(i)
    WHERE len(toks) >= {SPAN_N}
),
dup AS (
    SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS c FROM sp GROUP BY sh)
    WHERE c >= 2
),
ss AS (
    SELECT doc_id, list_sort(list(start)) AS starts
    FROM sp JOIN dup USING (sh) GROUP BY doc_id
),
k AS (
    SELECT t.doc_id, len(toks) AS n_tokens,
           list_filter(toks, (x, i) -> len(list_filter(
               coalesce(starts, CAST([] AS BIGINT[])),
               s -> s <= i AND i <= s + {SPAN_N - 1})) = 0) AS kept
    FROM t LEFT JOIN ss ON t.doc_id = ss.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens - len(kept) AS BIGINT) AS n_dropped,
       coalesce(list_aggregate(kept, 'string_agg', ' '), '') AS scrubbed_text
FROM k
""",
    doc=(
        f"Cross-document exact-substring scrub (Lee et al. 2021 'Deduplicating "
        f"Training Data' at {SPAN_N}-token span granularity): every positional "
        f"{SPAN_N}-token span seen in 2+ DISTINCT documents is removed from all "
        "of them, and the surviving tokens are re-joined into the scrubbed "
        "text — the REWRITE counterpart of text_dup_span_frac's score. "
        "Span occurrence counting is two-phase (groupBy(sh) with map-side "
        "partial COUNT(DISTINCT doc_id), never a window over the span key); "
        "the per-doc duplicated-start lists ride a doc_id-keyed aggregate "
        "whose size is bounded by the doc's own span count, and the final "
        "token filter is array-native in one projection. Shuffles carry "
        "16-byte md5 keys and integer starts — never text. Docs shorter "
        f"than {SPAN_N} tokens have no spans and pass through untouched."
    ),
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    # positions explode + top-level md5 (optimization r14): the struct-
    # building transform() lambda ran interpreted per position — same
    # rewrite as dedup_span_spectrum, identical hashes
    sp = (
        docs.where(F.size(toks) >= SPAN_N)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size(toks) - (SPAN_N - 1))
            ).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.expr(f"md5(array_join(slice(toks, start, {SPAN_N}), ' '))").alias("sh"),
        )
    )
    # phase 1: collapse to one row per cross-doc duplicated span; the
    # (sh, doc_id) distinct expands partially map-side, so a boilerplate
    # span shared by millions of docs never concentrates in one task
    dup_sh = (
        sp.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("c"))
        .where(F.col("c") >= 2)
        .select("sh")
    )
    # phase 2: per-doc sorted start list of duplicated spans (bounded by
    # the doc's own span count); the join is AQE-skew-splittable
    starts = (
        sp.join(dup_sh, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("starts"))
    )
    joined = docs.join(starts, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias("starts"),
    )
    # Spark filter-lambda index is 0-based (DuckDB's is 1-based): token
    # position p = i + 1; covered iff some dup span starts in (p-N, p]
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("starts"),
            lambda s: (s <= i + 1) & (i + 1 <= s + (SPAN_N - 1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_dropped"),
        F.concat_ws(" ", kept).alias("scrubbed_text"),
    )


#: span widths swept by the duplication-length spectrum — powers of two
#: around the common scrub granularities (Lee et al. use 50 tokens; C4's
#: paragraph dedup is effectively ~raw-line width)
SPECTRUM_WIDTHS = (8, 16, 32, 64)


@register(
    "dedup_span_spectrum",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sp AS (
    SELECT doc_id, w, md5(array_to_string(toks[i : i + w - 1], ' ')) AS sh
    FROM t, (VALUES {", ".join(f"({w})" for w in SPECTRUM_WIDTHS)}) ks(w),
         unnest(generate_series(1, len(toks) - w + 1)) u(i)
    WHERE len(toks) >= w
),
pd AS (SELECT w, sh, doc_id, COUNT(*) AS occ FROM sp GROUP BY 1, 2, 3),
ps AS (SELECT w, sh, SUM(occ) AS n_occ, COUNT(*) AS n_docs FROM pd GROUP BY 1, 2),
spec AS (
    SELECT w,
           SUM(n_occ) AS n_spans,
           COUNT(*) AS n_distinct_spans,
           SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans,
           SUM(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS dup_positions
    FROM ps GROUP BY w
),
aff AS (
    SELECT pd.w, COUNT(DISTINCT pd.doc_id) AS affected_docs
    FROM pd JOIN ps ON ps.w = pd.w AND ps.sh = pd.sh
    WHERE ps.n_docs >= 2 GROUP BY pd.w
)
SELECT s.w AS span_w,
       CAST(s.n_spans AS BIGINT) AS n_spans,
       CAST(s.n_distinct_spans AS BIGINT) AS n_distinct_spans,
       CAST(s.n_dup_spans AS BIGINT) AS n_dup_spans,
       CAST(s.dup_positions AS BIGINT) AS dup_positions,
       CAST(COALESCE(a.affected_docs, 0) AS BIGINT) AS affected_docs,
       CAST((s.dup_positions * 1000000) // s.n_spans AS BIGINT) AS dup_ppm
FROM spec s LEFT JOIN aff a ON a.w = s.w
ORDER BY span_w
""",
    doc=(
        "Duplication-length SPECTRUM — the scrub-granularity selection "
        f"curve for dedup_span_scrub/dedup_chunk_keep_first: for each span "
        f"width in {SPECTRUM_WIDTHS}, the corpus-wide count of positional "
        "spans, distinct spans, spans duplicated across >= 2 DISTINCT "
        "documents, positional occurrences of those duplicated spans "
        "(exactly the text a scrub at that width would touch), affected "
        "documents, and the duplicated fraction in integer ppm. Short "
        "spans over-trigger (every common phrase collides) and long spans "
        "under-trigger (one edited token breaks the match) — this one "
        "artifact shows where the knee is BEFORE committing a scrub width, "
        "the same measured-threshold-selection shape as "
        "sim_semantic_threshold_sweep and dedup_banding_sweep. All four "
        "widths ride ONE token pass (the per-width span streams union "
        "before the explode); counting is the same two-phase "
        "(w, sh, doc_id) -> (w, sh) cascade as dedup_span_scrub, so hot "
        "boilerplate spans combine map-side and shuffles carry only "
        "16-byte hashes — never text. The ppm is exact integer division, "
        "bit-identical across engines."
    ),
)
def dedup_span_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    # positions explode + TOP-LEVEL slice/join/md5 (optimization r14,
    # guide §1.2 per-task work: the old transform() lambdas ran
    # interpreted — measured 3.3 s vs 1.0 s for the identical span
    # stream; hashes are bit-identical). r15 (VERDICT r14 item 6): ONE
    # scan + tokenize feeds all four widths through a width explode —
    # the r14 shape unioned four scan branches, 4x the (doc_id, text)
    # read I/O at 100 TB and 4x the split() work; the width explode
    # produces the identical row multiset from one pass
    sp = (
        docs.select(
            "doc_id",
            "toks",
            F.explode(F.array(*[F.lit(w) for w in SPECTRUM_WIDTHS])).alias("w"),
        )
        .where(F.size(toks) >= F.col("w"))
        .select(
            "doc_id",
            "w",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size(toks) - F.col("w") + 1)).alias("i"),
        )
        .select(
            "doc_id",
            "w",
            F.expr("md5(array_join(slice(toks, i, w), ' '))").alias("sh"),
        )
    )
    # two-phase cascade: (w, sh, doc_id) occurrence counts combine
    # map-side, then collapse to one row per distinct span
    per_doc = sp.groupBy("w", "sh", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    per_span = per_doc.groupBy("w", "sh").agg(
        F.sum("occ").alias("n_occ"), F.count(F.lit(1)).alias("n_docs")
    )
    is_dup = F.col("n_docs") >= 2
    spec = per_span.groupBy("w").agg(
        F.sum("n_occ").alias("n_spans"),
        F.count(F.lit(1)).alias("n_distinct_spans"),
        F.sum(F.when(is_dup, 1).otherwise(0)).alias("n_dup_spans"),
        F.sum(F.when(is_dup, F.col("n_occ")).otherwise(0)).alias("dup_positions"),
    )
    aff = (
        per_doc.join(per_span.where(is_dup).select("w", "sh"), ["w", "sh"])
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("affected_docs"))
    )
    return (
        spec.join(aff, "w", "left")
        .select(
            F.col("w").alias("span_w"),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_distinct_spans").cast("long").alias("n_distinct_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.col("dup_positions").cast("long").alias("dup_positions"),
            F.coalesce(F.col("affected_docs"), F.lit(0))
            .cast("long")
            .alias("affected_docs"),
            F.expr("(dup_positions * 1000000) div n_spans")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("span_w")
    )


#: Gopher-rule constants (Rae et al. 2021 table A1 shape, thresholds
#: calibrated so every rule BINDS on the synthetic corpus: token count
#: p5/p95 are ~16/94, mean word length spans 3.7-5.3, and 'the'/'a'
#: coverage is ~63% — a gate where one rule can never fire is untested)
GOPHER_MIN_TOKENS = 16
GOPHER_MAX_TOKENS = 90
GOPHER_MIN_MEAN_WORD_LEN = 4.0
GOPHER_MAX_MEAN_WORD_LEN = 5.0
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")
GOPHER_MIN_STOPWORDS = 2

_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


@register(
    "text_gopher_gate",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS DOUBLE)
               / len(toks) AS mean_word_len,
           len(list_intersect(list_distinct(toks), {_GOPHER_STOP_SQL})) AS n_stopwords
    FROM t
)
SELECT doc_id, n_tokens, mean_word_len, CAST(n_stopwords AS BIGINT) AS n_stopwords,
       (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}) AS passes_word_count,
       (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN})
           AS passes_word_length,
       (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS passes_stopwords,
       (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
        AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
        AND n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS keep
FROM m
""",
    doc=(
        "Gopher-style composite document gate (word-count bounds, mean "
        "word length bounds, minimum distinct-stopword presence) with "
        "per-rule verdicts plus the AND. Everything is array-native inside "
        "ONE projection — zero shuffles, zero joins: at 100 TB this gate "
        "is a pure map over the scan, the cheapest possible plan shape, "
        "in contrast to the corpus-statistic gates (text_dup_span_frac, "
        "text_quality_percentile_gate) that inherently need an aggregate. "
        "Integer token-length sums are exact in both engines; the single "
        "double division makes mean_word_len bit-identical."
    ),
)
def text_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    mean_wl = (
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / n
    )
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    )
    scored = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    p_count = F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    p_len = F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
    p_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return scored.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "n_stopwords",
        p_count.alias("passes_word_count"),
        p_len.alias("passes_word_length"),
        p_stop.alias("passes_stopwords"),
        (p_count & p_len & p_stop).alias("keep"),
    )


#: percentile of the corpus TTR distribution below which a doc fails the
#: dynamic gate
DYNAMIC_GATE_PCT = 0.10


@register(
    "text_quality_percentile_gate",
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr
    FROM documents
),
cut AS (SELECT quantile_cont(ttr, {DYNAMIC_GATE_PCT}) AS p_low FROM scored)
SELECT s.doc_id, s.ttr, c.p_low,
       (s.ttr >= c.p_low) AS passes_dynamic
FROM scored s CROSS JOIN cut c
""",
    doc=(
        "Data-derived quality gate (the CCNet practice): instead of a fixed "
        "threshold, the cutoff is the corpus's own P10 of type-token ratio "
        "— recomputed per corpus, so the gate adapts to domain shift "
        "without retuning constants. Exact interpolated percentile "
        "(Spark percentile == DuckDB quantile_cont, the parity "
        "agg_median_percentile established), carried as a 1-row broadcast "
        "scalar onto the scored stream — the same shape as "
        "ts_rollup_merge's data-derived cutoff."
    ),
)
def text_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )
    cut = scored.agg(F.percentile(F.col("ttr"), F.lit(DYNAMIC_GATE_PCT)).alias("p_low"))
    return scored.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "ttr",
        "p_low",
        (F.col("ttr") >= F.col("p_low")).alias("passes_dynamic"),
    )


# ------------------------------------------------------------ PII scrubbing

#: PII pattern classes (detection + redaction). The four shapes are NOT
#: mutually disjoint: an email's local/host part can itself contain an
#: IPv4/SSN/phone-shaped substring ('123.456.7890@example.com' matches
#: both email and phone), so raw per-class match counts on the original
#: text (text_pii_report) can exceed the replacements the sequential
#: redact chain performs — text_pii_redact therefore counts each class on
#: the PROGRESSIVELY-redacted text, mirroring the replace chain. The
#: regex subset used (character classes, bounded repetition, ASCII \b)
#: behaves identically under Java regex (Spark) and RE2 (DuckDB) — pinned
#: both-engine in tests/test_pii.py. Order: email before ipv4 (an email's
#: host part could contain a dotted quad) then ssn then phone.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def _pii_count(col: str, pat: str) -> F.Column:
    return F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")


def _pii_count_sql(expr: str, pat: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"


@register(
    "text_pii_report",
    oracle=f"""
SELECT doc_id,
       {", ".join(_pii_count_sql("text", p) + f" AS n_{name}" for name, p, _ in PII_PATTERNS)},
       ({" + ".join(_pii_count_sql("text", p) for _, p, _ in PII_PATTERNS)}) > 0 AS has_pii
FROM documents
""",
    doc=(
        "PII detection report — the per-document audit a privacy-gated "
        "corpus release runs before anything ships: per-class RAW MATCH "
        "counts on the original text (email / IPv4 / SSN-shape / "
        "phone-shape — classes can overlap, e.g. a phone-shaped email "
        "local part counts under both; text_pii_redact is the "
        "replacement-exact variant) and a has_pii release gate bit. Pure projection over the scan (no shuffle, fully "
        "codegen'd regexes) — at 100 TB this is a map-only pass whose "
        "cost is the read itself. The synthetic corpus is clean (all "
        "zeros — itself the release-gate assertion); every pattern is "
        "proven to FIRE on engineered PII in tests/test_pii.py, the "
        "constraint-report discipline."
    ),
)
def text_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = [_pii_count("text", p).alias(f"n_{name}") for name, p, _ in PII_PATTERNS]
    total = None
    for name, p, _ in PII_PATTERNS:
        c = _pii_count("text", p)
        total = c if total is None else total + c
    return docs.select("doc_id", *counts, (total > 0).alias("has_pii"))


def _pii_redact_chain_sql(expr: str) -> tuple[str, list[str]]:
    """Nested redact chain plus the per-stage match counts, each count
    taken on the text AS REDACTED SO FAR (mirrors the Spark chain)."""
    counts = []
    out = expr
    for _, pat, token in PII_PATTERNS:
        counts.append(_pii_count_sql(out, pat))
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out, counts


@register(
    "text_pii_redact",
    oracle=f"""
SELECT doc_id,
       {_pii_redact_chain_sql("text")[0]} AS redacted,
       ({" + ".join(_pii_redact_chain_sql("text")[1])}) AS n_redactions
FROM documents
""",
    doc=(
        "PII redaction — the text_pii_report classes replaced with typed "
        "placeholder tokens (<EMAIL>/<IP>/<SSN>/<PHONE>), emitting the "
        "scrubbed text plus the total redaction count. The replace chain "
        "runs in the documented order (email first — its host part could "
        "contain a dotted quad); because the classes can OVERLAP (a "
        "phone-shaped local part inside an email), each class is counted "
        "on the text as redacted by the PRECEDING stages, so n_redactions "
        "equals exactly the replacements the chain performs (pinned "
        "against the <TOKEN> count of the output in tests/test_pii.py). "
        "Same map-only scan shape as the report; redaction and audit "
        "share one read in a production pipeline."
    ),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cur = F.col("text")
    total = None
    for _, pat, token in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("long")
        total = c if total is None else total + c
        cur = F.regexp_replace(cur, pat, token)
    return docs.select(
        "doc_id", cur.alias("redacted"), total.alias("n_redactions")
    )


# --------------------------------------------- quality x duplication


@register(
    "pipeline_quality_dup_matrix",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
           string_split(text, ' ') AS toks
    FROM documents
),
m AS (
    SELECT doc_id, h,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS DOUBLE)
               / len(toks) AS mean_word_len,
           len(list_intersect(list_distinct(toks), {_GOPHER_STOP_SQL})) AS n_stopwords
    FROM t
),
gated AS (
    SELECT doc_id, h, n_tokens,
           (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
            AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
            AND n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS quality_keep
    FROM m
),
hc AS (SELECT h, COUNT(*) AS c FROM gated GROUP BY h),
cells AS (
    SELECT g.quality_keep, (hc.c >= 2) AS is_exact_dup,
           COUNT(*) AS n_docs, SUM(g.n_tokens) AS cell_tokens
    FROM gated g JOIN hc ON hc.h = g.h
    GROUP BY 1, 2
),
tot AS (SELECT SUM(n_docs) AS total FROM cells)
SELECT quality_keep, is_exact_dup,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(cell_tokens AS BIGINT) AS cell_tokens,
       CAST((n_docs * 1000000) // total AS BIGINT) AS share_ppm
FROM cells, tot
""",
    doc=(
        "Quality x duplication INTERACTION matrix — the curation ablation "
        "table (the RefinedWeb/Gopher question 'is low-quality text also "
        "the duplicated text?'): corpus cells by (Gopher-gate verdict, "
        "exact-dup membership) with doc counts, token volume, and corpus "
        "share in exact ppm. If the dup mass concentrates in the "
        "quality-fail cell, dedup and the gate are redundant; if it "
        "spreads across quality-pass docs, both stages earn their cost — "
        "the decision this table feeds. One map for the gate signals "
        "(text_gopher_gate's exact expressions inline), one two-phase "
        "canonical-hash count for dup membership (dedup_exact's key), a 4-row aggregate, and a 1-row "
        "total broadcast for the shares."
    ),
)
def pipeline_quality_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    mean_wl = (
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / n
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    keep = (
        n.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    gated = docs.select(
        "doc_id",
        # canonical content key — the dedup family's exact-dup definition
        exact_dup_key().alias("h"),
        n.cast("long").alias("n_tokens"),
        keep.alias("quality_keep"),
    )
    hc = gated.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    cells = (
        gated.join(hc, "h")
        .groupBy("quality_keep", (F.col("c") >= 2).alias("is_exact_dup"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("cell_tokens"),
        )
    )
    tot = cells.agg(F.sum("n_docs").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "quality_keep",
        "is_exact_dup",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("cell_tokens").cast("long").alias("cell_tokens"),
        F.expr("(n_docs * 1000000) DIV total").alias("share_ppm"),
    )


# ----------------------------------------- trained quality classifier

#: hashed-feature space for the classifier (one weight per bucket + the
#: bias at f = -1; the weight table broadcasts at <= QC_NF + 1 rows
#: regardless of corpus size — the fineweb-edu/DCLM classifier shape)
QC_NF = 4096
#: fixed perceptron epochs, unrolled in both engines (no convergence
#: loop: a data-dependent round count would make the oracle text
#: data-dependent; 3 batch epochs separate the weak labels well past
#: the base rate on every test corpus)
QC_ROUNDS = 3
#: held-out slice for honest eval: doc_id % QC_EVAL_MOD == 0 never
#: contributes a gradient (the INCR_BATCH_MOD slice convention)
QC_EVAL_MOD = 5

# the weak-label rule — the Gopher composite gate (text_gopher_gate) in
# its EXACT-INTEGER form: mean_word_len BETWEEN 4.0 AND 5.0 is restated
# as 4*n <= sum_len <= 5*n (division by the positive token count is
# monotonic, so the forms are mathematically identical, and the integer
# form removes the one double rounding from the LABEL definition) — the
# standard model-based-filter bootstrap: rule-gate a slice, train a
# cheap model, gate the rest with the model.
_QC_MWL_LO = int(GOPHER_MIN_MEAN_WORD_LEN)
_QC_MWL_HI = int(GOPHER_MAX_MEAN_WORD_LEN)

#: the five shape-indicator features (one per way a doc can VIOLATE the
#: gate), at reserved negative ids next to the bias at -1 — the
#: handcrafted-statistics block every production quality classifier
#: feeds alongside the token features (raw counts alone cannot express
#: the gate's two-sided length band: margin>0 for 16<=n<=90 but <0 on
#: BOTH sides of it is not a linear function of nonnegative counts)
_QC_VIOLATIONS = (
    (-2, f"n < {GOPHER_MIN_TOKENS}"),
    (-3, f"n > {GOPHER_MAX_TOKENS}"),
    (-4, f"sl < {_QC_MWL_LO} * n"),
    (-5, f"sl > {_QC_MWL_HI} * n"),
    (-6, f"ns < {GOPHER_MIN_STOPWORDS}"),
)

#: static feature scale for the indicator block — the per-feature
#: learning rate of the standard feature-scaling trick: indicators fire
#: with value SCALE while token counts sum to ~doc length, so a rare but
#: decisive shape signal is not drowned by the dense count block (the
#: margin contribution of a fired indicator is SCALE^2 x its update
#: count, vs ~doc_len x net count imbalance for the token block — with
#: 64^2 = 4096 the indicator block dominates by construction, and since
#: a violation fires ONLY on y = -1 docs, the batch perceptron separates
#: instead of oscillating between the two all-one-class update states)
QC_VIOL_SCALE = 64


def _qc_ctes() -> str:
    """Unrolled batch-perceptron training + scoring CTE chain. Round 1
    is closed-form (w=0 misclassifies every train doc); each later round
    scores train docs under the previous weights and folds the
    misclassified docs' count-weighted labels into the weight table.
    All-integer: margins in HUGEINT, weights in BIGINT — bit-exact
    against the Spark twin's DECIMAL grammar."""
    from ..functions.hashing import hash32_sql

    viol_rows = " ".join(
        f"UNION ALL SELECT doc_id, {fid} AS f, {QC_VIOL_SCALE} AS c FROM st WHERE {cond}"
        for fid, cond in _QC_VIOLATIONS
    )
    parts = [
        "tk AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)",
        "st AS MATERIALIZED (SELECT doc_id, len(toks) AS n, "
        "list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS sl, "
        f"len(list_intersect(list_distinct(toks), {_GOPHER_STOP_SQL})) AS ns FROM tk)",
        f"lab AS MATERIALIZED (SELECT doc_id, CASE WHEN n BETWEEN {GOPHER_MIN_TOKENS} "
        f"AND {GOPHER_MAX_TOKENS} AND sl BETWEEN {_QC_MWL_LO} * n AND {_QC_MWL_HI} * n "
        f"AND ns >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE -1 END AS y, "
        f"(doc_id % {QC_EVAL_MOD} = 0) AS held_out FROM st)",
        f"fb AS MATERIALIZED (SELECT doc_id, {hash32_sql('tok')} % {QC_NF} AS f, COUNT(*) AS c "
        "FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2 "
        f"UNION ALL SELECT doc_id, -1 AS f, 1 AS c FROM lab {viol_rows})",
        "tr AS (SELECT doc_id, y FROM lab WHERE NOT held_out)",
        "mis0 AS (SELECT doc_id, y FROM tr)",
    ]
    for r in range(1, QC_ROUNDS + 1):
        parts.append(
            f"up{r} AS (SELECT fb.f, CAST(SUM(fb.c * m.y) AS BIGINT) AS dw "
            f"FROM fb JOIN mis{r - 1} m USING (doc_id) GROUP BY fb.f)"
        )
        if r == 1:
            parts.append("w1 AS MATERIALIZED (SELECT f, dw AS w FROM up1)")
        else:
            parts.append(
                f"w{r} AS MATERIALIZED (SELECT f, CAST(SUM(x) AS BIGINT) AS w FROM "
                f"(SELECT f, w AS x FROM w{r - 1} UNION ALL SELECT f, dw AS x FROM up{r}) "
                "GROUP BY f)"
            )
        if r < QC_ROUNDS:
            parts.append(
                f"m{r} AS (SELECT fb.doc_id, SUM(fb.c::HUGEINT * w{r}.w) AS dot "
                f"FROM fb JOIN w{r} ON w{r}.f = fb.f GROUP BY 1)"
            )
            parts.append(
                f"mis{r} AS (SELECT t.doc_id, t.y FROM tr t "
                f"JOIN m{r} ON m{r}.doc_id = t.doc_id WHERE t.y * m{r}.dot <= 0)"
            )
    parts.append(
        f"sc AS (SELECT fb.doc_id, CAST(SUM(fb.c::HUGEINT * w{QC_ROUNDS}.w) AS BIGINT) AS margin "
        f"FROM fb JOIN w{QC_ROUNDS} ON w{QC_ROUNDS}.f = fb.f GROUP BY 1)"
    )
    return ",\n".join(parts)


def _qc_stats_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n, sl, ns): token count, summed token length, distinct
    stopword count — all integers, one projection over the scan."""
    toks = _toks()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias(
            "sl"
        ),
        F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
            )
        ).alias("ns"),
    )


def _qc_label_frame(st: DataFrame) -> DataFrame:
    keep = (
        F.col("n").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & F.col("sl").between(_QC_MWL_LO * F.col("n"), _QC_MWL_HI * F.col("n"))
        & (F.col("ns") >= GOPHER_MIN_STOPWORDS)
    )
    return st.select(
        "doc_id",
        F.when(keep, 1).otherwise(-1).alias("y"),
        ((F.col("doc_id") % QC_EVAL_MOD) == 0).alias("held_out"),
    )


def _qc_feats(docs: DataFrame, st: DataFrame) -> DataFrame:
    """(doc_id, f, c) hashed-unigram counts plus the bias feature
    (f = -1, every doc) and the five shape-violation indicators
    (f = -2..-6, _QC_VIOLATIONS) — folding them into the feature stream
    lets ONE weight table carry the whole model."""
    from ..functions.hashing import hash32

    base = (
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .select("doc_id", (hash32(F.col("tok")) % QC_NF).alias("f"))
        .groupBy("doc_id", "f")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = base.unionByName(
        st.select(
            "doc_id",
            F.lit(-1).cast("long").alias("f"),
            F.lit(1).cast("long").alias("c"),
        )
    )
    for fid, cond in _QC_VIOLATIONS:
        out = out.unionByName(
            st.where(F.expr(cond)).select(
                "doc_id",
                F.lit(fid).cast("long").alias("f"),
                F.lit(QC_VIOL_SCALE).cast("long").alias("c"),
            )
        )
    return out


#: decimal dot product of a doc's counts against the broadcast weights —
#: DuckDB sums the HUGEINT products; Spark must widen past int64 the
#: same way (the sample_dsir_selection overflow discipline: |w| is
#: corpus-token bounded, c is doc bounded, so c*w can cross 2^63 long
#: before any doc is mis-scored)
PERCEPTRON_DOT = "SUM(CAST(c AS DECIMAL(20,0)) * w)"


def perceptron_margins(fb: DataFrame, w: DataFrame, by: tuple = ()) -> DataFrame:
    """(doc_id, *by, dot): every doc's exact DECIMAL margin under a
    broadcast weight table (*by, f, w) — the one scoring pass of training
    and serving alike. ``by`` is () for a binary model, ("cls",) for a
    one-vs-rest table with a weight row per (class, f)."""
    return (
        fb.join(F.broadcast(w), "f")
        .groupBy("doc_id", *by)
        .agg(F.expr(PERCEPTRON_DOT).alias("dot"))
    )


def perceptron_weights(
    fb: DataFrame, labels: DataFrame, rounds: int, by: tuple = ()
) -> DataFrame:
    """The unrolled integer batch perceptron over an EXPLICIT feature
    stream (doc_id, f, c) and train-label frame (doc_id, *by, y), y = +1
    or -1 -> weight table (*by, f, w). Round 1 is closed-form (w = 0
    misclassifies every row, y * 0 <= 0); each later round folds the
    count-weighted labels of the rows the previous weights misclassify
    into the table. ``by`` = ("cls",) trains one-vs-rest, one binary
    model per class in the same passes. The quality classifier, its
    streaming twin (which trains over LANDED per-doc features at merge
    time, so stream-vs-batch agreement is structural) and language ID
    all train here. ``fb`` is consumed 2x per round: callers pin it."""
    keys = [*by, "f"]
    mis = labels
    w = None
    for r in range(1, rounds + 1):
        up = (
            fb.join(mis, "doc_id")
            .groupBy(*keys)
            .agg(F.sum(F.col("c") * F.col("y")).cast("long").alias("dw"))
        )
        if w is None:
            w = up.select(*keys, F.col("dw").alias("w"))
        else:
            w = (
                w.select(*keys, F.col("w").alias("x"))
                .unionByName(up.select(*keys, F.col("dw").alias("x")))
                .groupBy(*keys)
                .agg(F.sum("x").cast("long").alias("w"))
            )
        # table-bounded rows; pinning per round keeps the next round's
        # margin pass from re-executing the whole training prefix
        w = w.localCheckpoint()
        if r < rounds:
            mis = (
                labels.join(perceptron_margins(fb, w, by), ["doc_id", *by])
                .where(F.col("y") * F.col("dot") <= 0)
                .select("doc_id", *by, "y")
            )
    return w


def _qc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained weight table (f, w) with bias at f = -1 — memoized and
    PERSISTED per (corpus snapshot, geometry) through io.memo_checkpoint:
    the model is a corpus-level artifact like the trained tokenizers
    (train once, every scorer and every later session reads it back)."""
    from ..io import memo_checkpoint

    return memo_checkpoint(
        spark,
        sf_dir,
        "documents",
        "quality_classifier_w",
        lambda: _qc_weights_build(spark, sf_dir),
        extra_key=(QC_NF, QC_ROUNDS, QC_EVAL_MOD),
    )


def _qc_weights_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = _qc_stats_frame(docs)
    lab = _qc_label_frame(st)
    # reused 2x per round: pin once (NF-bucketed counts, corpus-sized)
    fb = _qc_feats(docs, st).localCheckpoint()
    tr = lab.where(~F.col("held_out")).select("doc_id", "y")
    return perceptron_weights(fb, tr, QC_ROUNDS)


def qc_score_docs(docs: DataFrame, w: DataFrame) -> DataFrame:
    """Score ANY (doc_id, text) frame against a trained weight table —
    the serving-path primitive the full-corpus query and the streaming
    twin (streaming/runtime.run_quality_classifier_stream) share: one
    broadcast join + one doc_id groupBy, cost scales with the scored
    frame, never the training corpus."""
    st = _qc_stats_frame(docs)
    return qc_score_frame(_qc_feats(docs, st), _qc_label_frame(st), w)


def qc_score_frame(fb: DataFrame, lab: DataFrame, w: DataFrame) -> DataFrame:
    """Scoring over an EXPLICIT feature stream + label frame — the shape
    the streaming corpus build scores its landed features through."""
    return lab.join(perceptron_margins(fb, w), "doc_id", "left").select(
        "doc_id",
        "y",
        "held_out",
        F.coalesce(F.col("dot"), F.lit(0)).cast("long").alias("margin"),
    )


def _qc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc scored frame (doc_id, y, held_out, margin) — memoized and
    PERSISTED like the weights (VERDICT r12 item 5): the classifier
    query, the eval, the threshold sweep, DoReMi, and the model-gated
    pipelines all consume the same margins, so one scoring pass per
    (corpus snapshot, geometry) serves every consumer and every later
    session; before this the margins recomputed ~4x per session."""
    from ..io import memo_checkpoint

    return memo_checkpoint(
        spark,
        sf_dir,
        "documents",
        "quality_classifier_scored",
        lambda: qc_score_docs(
            load_table(spark, sf_dir, "documents"), _qc_weights(spark, sf_dir)
        ),
        extra_key=(QC_NF, QC_ROUNDS, QC_EVAL_MOD),
    )


@register(
    "text_quality_classifier",
    oracle=f"""
WITH {_qc_ctes()}
SELECT l.doc_id,
       CAST(l.y AS BIGINT) AS weak_label,
       l.held_out,
       CAST(COALESCE(sc.margin, 0) AS BIGINT) AS margin,
       (COALESCE(sc.margin, 0) > 0) AS predicted_keep
FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id
""",
    doc=(
        "Model-based quality classifier (the fineweb-edu/DCLM pipeline "
        "stage: train a cheap linear scorer on weak labels, gate the "
        f"corpus with it): hashed unigram counts ({QC_NF} buckets), a "
        "bias feature, and five shape-statistic indicators (length/"
        "mean-word-length/stopword violations — the handcrafted-stats "
        "block production quality models feed beside token features; "
        "raw nonnegative counts alone cannot express the gate's "
        "two-sided length band) train a batch perceptron for exactly "
        f"{QC_ROUNDS} unrolled epochs against the Gopher composite gate "
        "(exact-integer form) as the weak label, with the doc_id % "
        f"{QC_EVAL_MOD} == 0 slice held out of every gradient; every "
        "document then scores margin = <counts, w> and gates at the "
        "data-derived margin > 0. EXACT integer discipline end-to-end "
        "(the sim_centroid_classifier rule): updates are count-weighted "
        "±1 sums in int64, margins in DECIMAL (Spark) / HUGEINT "
        "(DuckDB) so one hot bucket can never wrap a score, ties "
        "(margin == 0) misclassify deterministically in BOTH the update "
        "rule and the gate. Scale shape: the weight table is <= "
        f"{QC_NF}+1 rows — training is {QC_ROUNDS} broadcast-join "
        "passes over the hashed-count stream (each a map-side join + "
        "one doc_id groupBy, no corpus shuffle beyond the count "
        "aggregation), scoring is one more; weights persist through the "
        "index store so later sessions score without retraining. Output "
        "margin cast to BIGINT is exact while doc_tokens x corpus_tokens "
        "< 9.2e18 (at 1e5-token docs: corpora to ~1e13 tokens)."
    ),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qc_scored(spark, sf_dir).select(
        "doc_id",
        F.col("y").cast("long").alias("weak_label"),
        "held_out",
        "margin",
        (F.col("margin") > 0).alias("predicted_keep"),
    )


@register(
    "text_quality_classifier_eval",
    oracle=f"""
WITH {_qc_ctes()},
ev AS (
    SELECT (l.y = 1) AS actual_keep,
           (COALESCE(sc.margin, 0) > 0) AS predicted_keep
    FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id
    WHERE l.held_out
),
conf AS (
    SELECT actual_keep, predicted_keep, COUNT(*) AS n
    FROM ev GROUP BY 1, 2
),
tot AS (SELECT actual_keep, SUM(n) AS actual_total FROM conf GROUP BY 1)
SELECT c.actual_keep, c.predicted_keep, CAST(c.n AS BIGINT) AS n,
       CAST(t.actual_total AS BIGINT) AS actual_total,
       CAST((c.n * 1000000) // t.actual_total AS BIGINT) AS cell_ppm
FROM conf c JOIN tot t USING (actual_keep)
ORDER BY actual_keep, predicted_keep
""",
    doc=(
        "Held-out confusion matrix for text_quality_classifier — the "
        "honest-eval half of the model-based filter loop: only doc_id % "
        f"{QC_EVAL_MOD} == 0 docs (which contributed NO gradient) are "
        "scored, cells carry per-actual-class recall in exact-integer "
        "ppm (the sim_centroid_classifier confusion shape, so embedding- "
        "and text-side weak classifiers read identically in a data "
        "card). A curation run promotes the model only when the held-out "
        "diagonal clears its bar — never on training-slice accuracy."
    ),
)
def text_quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _qc_scored(spark, sf_dir).where("held_out")
    conf = ev.groupBy(
        (F.col("y") == 1).alias("actual_keep"),
        (F.col("margin") > 0).alias("predicted_keep"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = conf.groupBy("actual_keep").agg(F.sum("n").alias("actual_total"))
    return (
        conf.join(tot, "actual_keep")
        .select(
            "actual_keep",
            "predicted_keep",
            F.col("n").cast("long").alias("n"),
            F.col("actual_total").cast("long").alias("actual_total"),
            F.expr("(n * 1000000) div actual_total").cast("long").alias("cell_ppm"),
        )
        .orderBy("actual_keep", "predicted_keep")
    )


#: decile ranks probed by the threshold sweep (k/10 of the held-out
#: margin distribution, discrete — rank-indexed, never interpolated)
QC_SWEEP_DECILES = tuple(range(1, 10))

#: precision target (ppm) the model gate's operating bar must clear —
#: the curation rule VERDICT r12 item 1 asks for: among the swept bars,
#: gate at the one keeping the MOST volume whose held-out precision
#: against the weak label is at least this; if no bar qualifies, fall
#: back to the strictest (highest) bar, the conservative failure mode
QC_GATE_PRECISION_PPM = 900_000


def _qc_sweep_ctes() -> str:
    """Sweep CTE chain, appended after ``_qc_ctes()`` — ends in ``qsn``
    (1-row held-out count) and ``qswp`` (one row per probed decile:
    k, bar, n_keep, tp, fp, fn). Shared verbatim by the sweep query's
    oracle and every model-gated pipeline oracle, so the bar the gate
    applies is BY CONSTRUCTION the bar the sweep reports. qs-prefixed
    names: the pipelines this embeds into own the generic ones."""
    return f"""qsev AS (
    SELECT l.doc_id, (l.y = 1) AS actual_keep,
           COALESCE(sc.margin, 0) AS margin
    FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id
    WHERE l.held_out
),
qsn AS (SELECT COUNT(*) AS n FROM qsev),
qsrank AS (
    SELECT margin, ROW_NUMBER() OVER (ORDER BY margin, doc_id) AS rnk FROM qsev
),
qsbars AS (
    SELECT k, r.margin AS bar
    FROM (SELECT unnest({list(QC_SWEEP_DECILES)}) AS k) ks
    JOIN qsn ON TRUE
    JOIN qsrank r ON r.rnk = GREATEST((ks.k * qsn.n) // 10, 1)
),
qswp AS (
    SELECT b.k, b.bar,
           COUNT(*) FILTER (qsev.margin > b.bar) AS n_keep,
           COUNT(*) FILTER (qsev.margin > b.bar AND qsev.actual_keep) AS tp,
           COUNT(*) FILTER (qsev.margin > b.bar AND NOT qsev.actual_keep) AS fp,
           COUNT(*) FILTER (qsev.margin <= b.bar AND qsev.actual_keep) AS fn
    FROM qsbars b CROSS JOIN qsev
    GROUP BY 1, 2
)"""


def _qc_gate_ctes() -> str:
    """``_qc_sweep_ctes()`` plus ``qgate`` — the 1-row selected bar:
    MIN(bar) over deciles clearing the precision target (min bar =
    largest keep volume), COALESCEd to MAX(bar) when none qualifies."""
    return f"""{_qc_sweep_ctes()},
qgate AS (
    SELECT COALESCE(
        MIN(CASE WHEN tp + fp > 0
                  AND (tp * 1000000) // (tp + fp) >= {QC_GATE_PRECISION_PPM}
                 THEN bar END),
        MAX(bar)) AS qbar
    FROM qswp)"""


@register(
    "text_quality_threshold_sweep",
    oracle=f"""
WITH {_qc_ctes()},
{_qc_sweep_ctes()}
SELECT CAST(c.k AS BIGINT) AS decile, c.bar,
       CAST(c.n_keep AS BIGINT) AS n_keep,
       CAST((c.n_keep * 1000000) // qsn.n AS BIGINT) AS keep_ppm,
       CAST(CASE WHEN c.tp + c.fp > 0
                 THEN (c.tp * 1000000) // (c.tp + c.fp) END AS BIGINT)
           AS precision_ppm,
       CAST(CASE WHEN c.tp + c.fn > 0
                 THEN (c.tp * 1000000) // (c.tp + c.fn) END AS BIGINT)
           AS recall_ppm
FROM qswp c CROSS JOIN qsn
ORDER BY decile
""",
    doc=(
        "Margin-threshold operating-point sweep for the trained quality "
        "classifier — the artifact the gate's threshold is CHOSEN from "
        "(the nprobe-sweep/banding-sweep discipline applied to the "
        "model-based filter; VERDICT r11's 'gate at a data-derived "
        "threshold'): the nine decile margins of the HELD-OUT "
        "distribution (discrete rank-indexed values via ROW_NUMBER — "
        "never interpolated percentiles, whose float midpoints are "
        "engine-divergent) each become a candidate bar, and every bar "
        "reports its keep volume plus precision/recall against the weak "
        "label in exact integer ppm. A curation run picks the bar that "
        "clears its precision target at the largest keep rate — from "
        "data, not from the margin>0 default. Scale shape: the sweep "
        "costs ONE pass over the held-out slice (9 bars x conditional "
        "aggregates; the bar table is 9 broadcast rows), margins ride "
        "the persisted weight artifact, the rank probe is one window "
        "over the held-out slice only."
    ),
)
def text_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return qc_sweep_frame(spark, _qc_scored(spark, sf_dir), memo_sf_dir=sf_dir)


def qc_sweep_frame(
    spark: SparkSession, scored: DataFrame, memo_sf_dir: str | None = None
) -> DataFrame:
    """The decile sweep over ANY scored frame (doc_id, y, held_out,
    margin) — the registered query binds it to the persisted corpus
    margins; the streaming corpus build runs it over margins scored from
    landed state at merge time. ``memo_sf_dir`` (r15): when the caller's
    scored frame is the per-corpus persisted one, the held-out slice and
    the 9-row decile-bar table come from the session memo (io.session_memo),
    keyed per (session, corpus snapshot, decile policy): the sweep, gate
    bar, calibration, keep manifest, corpus build, drop-reason and
    gate-drift matrices, dedup funnel, data card and calibrated budget
    each re-ran the banded-rank machinery per construction (optimization
    r15 — ~15-25 construction jobs per consumer). The sweep CELLS pass
    stays per-query work. An ad-hoc scored frame (streaming merge state)
    passes None and builds fresh."""
    from .. import io as _io

    if memo_sf_dir is None:
        ev, bars = _qc_bars(spark, scored)
    else:
        ev, bars = _io.session_memo(
            spark,
            memo_sf_dir,
            "documents",
            "qc_bars",
            tuple(QC_SWEEP_DECILES),
            lambda: _qc_bars(spark, scored),
        )
    return _qc_sweep_cells(spark, ev, bars)


def _qc_bars(spark: SparkSession, scored: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(held-out slice, 9-row decile bars), both localCheckpointed: the
    bars are the candidate operating points SELECTED from the scored
    margins via the banded-rank machinery."""
    ev = (
        scored
        .where("held_out")
        .select("doc_id", (F.col("y") == 1).alias("actual_keep"), "margin")
        .localCheckpoint()  # consumed 3x below (stats, rank, cells)
    )
    from pyspark.sql import Window

    # ONE 1-row stats pass (count + margin span): the old shape paid two
    # separate aggregates over ev (nheld and span) — two exchanges and
    # two broadcasts for numbers one pass produces (optimization r14,
    # guide §2.4: two operations keyed the same way share one pass)
    stats = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("margin").alias("mn"),
        F.max("margin").alias("mx"),
    )
    # global (margin, doc_id) rank via the banded two-level prefix sum
    # (pack_shards discipline — an unpartitioned row_number over the
    # held-out slice would be a single-reducer sort at scale): margins
    # band by value range (the 1-row min/max broadcast makes banding a
    # pure projection and keeps bands monotone in margin, so banded rank
    # == global rank), ranks partition per band, and the <= _QC_BANDS-row
    # band-offset table is the only ordered window
    _QC_BANDS = 64
    banded = ev.crossJoin(F.broadcast(stats)).withColumn(
        "band",
        # DECIMAL guard: (margin - mn) * bands can cross int64 when the
        # margin span itself is near the int64 edge
        F.expr(
            f"CAST((CAST(margin AS DECIMAL(20,0)) - mn) * {_QC_BANDS}"
            " DIV (CAST(mx AS DECIMAL(20,0)) - mn + 1) AS LONG)"
        ),
    )
    w_b = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("band_n"))
        .select(
            "band",
            "band_n",
            F.coalesce(F.sum("band_n").over(w_b), F.lit(0)).alias("offset"),
        )
    )
    # probed deciles come from QC_SWEEP_DECILES — the SAME constant the
    # oracle SQL interpolates — so editing it can never desynchronize the
    # engine twins (ADVICE r12: this side hardcoded range(1, 10))
    ks = driver_frame(spark, [(int(k),) for k in QC_SWEEP_DECILES], "k long")
    targets = ks.crossJoin(F.broadcast(stats)).select(
        "k", F.greatest(F.expr("(k * n) DIV 10"), F.lit(1)).alias("rnk")
    )
    # rank ONLY inside the <= |deciles| bands that contain a target rank
    # (optimization r14): band b covers global ranks (offset, offset +
    # band_n], so the target->band map is a broadcast join of two tiny
    # frames, and the within-band row_number — the only held-out-scaled
    # sort — runs over the probed bands instead of all of them (banded
    # rank == global rank is unchanged: dropping non-probed bands cannot
    # move a row's rank within its own band)
    # explicit crossJoin + filter (not a range join) so the bounded
    # 9 x <= _QC_BANDS pairing plans as the reviewed Cross BuildRight
    # broadcast form the plan net allowlists
    tbands = (
        targets.crossJoin(F.broadcast(offsets))
        .where(
            (F.col("rnk") > F.col("offset"))
            & (F.col("rnk") <= F.col("offset") + F.col("band_n"))
        )
        .select("k", "rnk", "band", "offset")
    )
    w_in = Window.partitionBy("band").orderBy(F.asc("margin"), F.asc("doc_id"))
    within = (
        banded.join(
            F.broadcast(tbands.select("band").distinct()), "band", "left_semi"
        )
        .select("margin", "band", F.row_number().over(w_in).alias("rk_in"))
    )
    bars = (
        within.join(
            F.broadcast(tbands.withColumnRenamed("band", "tband")),
            F.col("band") == F.col("tband"),
        )
        .where(F.col("offset") + F.col("rk_in") == F.col("rnk"))
        .select("k", F.col("margin").alias("bar"))
        # 9-row pin: the cells pass below and every sweep consumer
        # otherwise re-embeds (and physically duplicates — Spark copies
        # shared subtrees, only exchanges are reused) the whole banded-
        # rank machinery; one tiny eager job truncates it out of every
        # downstream plan (optimization r14)
        .localCheckpoint()
    )
    return ev, bars


def _qc_sweep_cells(spark: SparkSession, ev: DataFrame, bars: DataFrame) -> DataFrame:
    """The per-bar conditional-aggregate pass — per-consumer work over
    the (memoizable) held-out slice and bar table."""
    stats = ev.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        ev.crossJoin(F.broadcast(bars))
        .groupBy("k", "bar")
        .agg(
            F.sum((F.col("margin") > F.col("bar")).cast("long")).alias("n_keep"),
            F.sum(
                ((F.col("margin") > F.col("bar")) & F.col("actual_keep")).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("margin") > F.col("bar")) & ~F.col("actual_keep")).cast("long")
            ).alias("fp"),
            F.sum(
                ((F.col("margin") <= F.col("bar")) & F.col("actual_keep")).cast("long")
            ).alias("fn"),
        )
    )
    return (
        cells.crossJoin(F.broadcast(stats.select("n")))
        .select(
            F.col("k").cast("long").alias("decile"),
            "bar",
            F.col("n_keep").cast("long").alias("n_keep"),
            F.expr("(n_keep * 1000000) DIV n").cast("long").alias("keep_ppm"),
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.expr("(tp * 1000000) DIV (tp + fp)"),
            ).cast("long").alias("precision_ppm"),
            F.when(
                F.col("tp") + F.col("fn") > 0,
                F.expr("(tp * 1000000) DIV (tp + fn)"),
            ).cast("long").alias("recall_ppm"),
        )
        .orderBy("decile")
    )


def qc_gate_bar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model gate's 1-row operating point, SELECTED from the sweep
    (never hardcoded): ``qbar`` = MIN(bar) over deciles whose held-out
    precision clears QC_GATE_PRECISION_PPM — min bar is the LARGEST keep
    volume among qualifying bars — with the strictest bar (MAX) as the
    conservative fallback when none qualifies; ``precision_met`` records
    which path fired. Shared by every model-gated consumer (keep
    manifest, corpus build, dedup funnel, data card), so the applied
    threshold and the published sweep can never disagree. Cost: one
    aggregate over the 9-row sweep frame — the margins underneath ride
    the persisted scored artifact."""
    return qc_gate_bar_frame(text_quality_threshold_sweep(spark, sf_dir))


def qc_gate_bar_frame(sweep: DataFrame) -> DataFrame:
    """The selection rule over ANY sweep frame — shared with the
    streaming corpus build's merge step."""
    return sweep.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("precision_ppm") >= QC_GATE_PRECISION_PPM, F.col("bar")
                )
            ),
            F.max("bar"),
        ).alias("qbar"),
        F.coalesce(
            F.max(
                (F.col("precision_ppm") >= QC_GATE_PRECISION_PPM).cast("int")
            ).cast("boolean"),
            F.lit(False),
        ).alias("precision_met"),
    )


@register(
    "text_quality_gate_bar",
    oracle=f"""
WITH {_qc_ctes()},
{_qc_gate_ctes()}
SELECT g.qbar,
       (MAX(CASE WHEN c.tp + c.fp > 0
                  AND (c.tp * 1000000) // (c.tp + c.fp) >= {QC_GATE_PRECISION_PPM}
                 THEN 1 ELSE 0 END) = 1) AS precision_met,
       CAST(MIN(CASE WHEN c.bar = g.qbar THEN c.k END) AS BIGINT) AS decile
FROM qswp c CROSS JOIN qgate g
GROUP BY g.qbar
""",
    doc=(
        "The selected operating point of the model-based quality gate — "
        "the row-level record of WHICH swept bar the end-to-end corpus "
        "build applies (VERDICT r12 item 1's 'at the threshold the sweep "
        "selects', made auditable): qbar = the largest-keep bar clearing "
        f"{QC_GATE_PRECISION_PPM} ppm held-out precision, conservative "
        "strictest-bar fallback when none does (precision_met = false), "
        "plus the decile it came from (MIN decile on bar ties). The SQL "
        "twin derives the bar from the SAME shared sweep CTE chain every "
        "model-gated pipeline oracle embeds, so engine and oracle can "
        "only ever gate at the same threshold."
    ),
)
def text_quality_gate_bar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE sweep build feeds both the published rows and the selection
    # (optimization r14): the old shape ran text_quality_threshold_sweep
    # twice — once here, once inside qc_gate_bar — re-executing the
    # banded-rank subtree; the 9-row checkpoint pins it once
    sweep = text_quality_threshold_sweep(spark, sf_dir).localCheckpoint()
    sel = qc_gate_bar_frame(sweep)
    return (
        sweep.crossJoin(F.broadcast(sel))
        .groupBy("qbar", "precision_met")
        .agg(
            F.min(F.when(F.col("bar") == F.col("qbar"), F.col("decile")))
            .cast("long")
            .alias("decile")
        )
        .select("qbar", "precision_met", "decile")
    )


@register(
    "text_quality_calibration",
    oracle=f"""
WITH {_qc_ctes()},
{_qc_sweep_ctes()},
qbins AS (
    SELECT e.doc_id, e.actual_keep,
           (SELECT COUNT(*) FROM qswp b WHERE e.margin > b.bar) AS bin
    FROM qsev e
)
SELECT CAST(bin AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (actual_keep) AS n_actual_keep,
       CAST((COUNT(*) FILTER (actual_keep)) * 1000000 // COUNT(*) AS BIGINT)
           AS keep_rate_ppm
FROM qbins
GROUP BY bin
ORDER BY bin
""",
    doc=(
        "Reliability curve for the trained quality classifier — the "
        "calibration artifact a curation run reads NEXT TO the threshold "
        "sweep: every held-out document bins by how many of the nine "
        "swept decile bars its margin clears (bin 0 = below every bar, "
        "bin 9 = above all), and each bin reports its EMPIRICAL "
        "weak-label keep rate in exact integer ppm. A well-ordered "
        "model shows keep_rate_ppm rising with bin — the margin is "
        "usable as a confidence score, not just a ranking; a flat or "
        "inverted stretch localizes WHERE the score is uncalibrated "
        "(which the single precision number of the sweep cannot). Bins "
        "reuse the sweep's exact bars (shared CTE chain / shared sweep "
        "frame), so the curve and the sweep can never disagree about "
        "where a bar sits. Cost: the 9-row bar table broadcasts into "
        "ONE pass over the held-out slice of the persisted scored "
        "frame; two bounded aggregations, nothing corpus-wide."
    ),
)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = text_quality_threshold_sweep(spark, sf_dir).select("bar")
    return qc_calibration_frame(_qc_scored(spark, sf_dir), bars)


def qc_calibration_frame(scored: DataFrame, bars: DataFrame) -> DataFrame:
    """The reliability curve over ANY scored frame and bar table —
    split out (optimization r14) so sample_calibrated_budget can feed
    the ONE sweep build it already pays for instead of re-deriving the
    bars (the banded-rank subtree) a second time inside this function."""
    ev = (
        scored
        .where("held_out")
        .select("doc_id", (F.col("y") == 1).alias("actual_keep"), "margin")
    )
    binned = (
        ev.crossJoin(F.broadcast(bars))
        .groupBy("doc_id", "actual_keep")
        .agg(F.sum((F.col("margin") > F.col("bar")).cast("long")).alias("bin"))
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("actual_keep").cast("long")).alias("n_actual_keep"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n_docs",
            F.col("n_actual_keep").cast("long").alias("n_actual_keep"),
            F.expr("n_actual_keep * 1000000 DIV n_docs")
            .cast("long")
            .alias("keep_rate_ppm"),
        )
        .orderBy("bin")
    )
