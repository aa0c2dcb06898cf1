"""Deduplication operators over the documents table (north-star surface,
SURVEY.md §2.10; the reference's only dedup is the distinct-file-list
check, mainTesting.py:213-214, and the idempotent-ingest anti-join J3).

Five dedup families, each designed for the 100 TB shape:

  * exact          — hash-groupBy on content; one shuffle on the dup key.
  * minhash + LSH  — shingle -> k seeded minhashes -> banded bucket join;
                     candidate pairs come from equi-joins on band keys
                     (shuffle on band hash), never an O(n^2) compare.
  * simhash        — 16-bit majority signature; near-dups collide on the
                     signature (or within small hamming distance).
  * n-gram jaccard — exact verification as a pair-driven stage: the
                     exact_jaccard / containment functions take an explicit
                     candidate-pair DataFrame and join the token stream
                     THROUGH it (dedup_lsh_verified = LSH recall -> exact
                     precision end-to-end; the bounded doc_id<150 forms are
                     oracle demos only).
  * embedding cosine — see similarity.py (shares the quantized math).

All hashing is portable md5 (functions/hashing.py) so every operator is
DuckDB-oracle-checked end-to-end.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_P,
    affine_hash,
    affine_hash_sql,
    exact_dup_key,
    hash32,
    hash32_sql,
    uminhash_agg,
    uminhash_agg_sql,
)
from ..io import load_table
from ..registry import register

# one-way module dependency, needed at import time because the funnel
# oracle SQL is built at registration: dedup -> similarity is the ONLY
# module-level direction allowed — similarity imports dedup strictly at
# function level (similarity.py's lazy imports), so no cycle can form.
# ADVICE r6: hoisted from mid-file so the dependency is visible here.
from .similarity import (
    SEMDEDUP_COSINE,
    _PAIR_CTES as _SIM_PAIR_CTES,
    q_cte as _sim_q_cte,
)

# ------------------------------------------------------------------ exact


@register(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies, min(n_chars) AS n_chars
FROM documents
GROUP BY text
""",
    doc="Exact dedup: hash-groupBy on content, keep min(doc_id) as canonical row.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "dedup_fingerprint",
    oracle="""
SELECT substr(md5(lower(trim(text))), 1, 16) AS fingerprint,
       COUNT(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
""",
    doc=(
        "Fingerprint dedup: normalize (lower/trim) then 64-bit content hash; "
        "at scale the groupBy key is 8 bytes instead of the full text."
    ),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 16)
    return docs.groupBy(fp.alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


# ---------------------------------------------------------------- minhash

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 -> jaccard ~0.5+ pairs surface with high prob.


def _shingles(text: F.Column, toks: F.Column) -> F.Column:
    """Distinct word 3-gram shingles over a PRE-SPLIT token array; docs
    under 3 tokens fall back to the whole text as a single shingle
    (mirrors the SQL guard — Spark's sequence() would otherwise count
    DOWN for negative lengths).

    ``toks`` must be a materialized column (``split`` in a prior select),
    never an inline ``F.split`` expression: an inline split is re-evaluated
    at every ``element_at`` inside the transform lambda, turning shingling
    O(tokens^2) per document (measured 5x slower at sf0.1)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return F.when(F.size(toks) < 3, F.array(text)).otherwise(F.array_distinct(grams))


def _shingle_rows(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, w): one row per distinct shingle (:func:`_shingles`) of each
    row of ``docs``, which needs ``text`` and the ``keep`` columns."""
    return docs.select(*keep, "text", F.split("text", " ").alias("toks")).select(
        *keep, F.explode(_shingles(F.col("text"), F.col("toks"))).alias("w")
    )


_SHINGLES_SQL = """
CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
     ELSE list_distinct(list_transform(
              generate_series(1, len(string_split(text, ' ')) - 2),
              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                   || ' ' || string_split(text, ' ')[i+2]))
END
"""


def _minhash_signature_of(docs: DataFrame) -> DataFrame:
    """doc -> distinct word-3-gram shingles -> ONE md5 per shingle ->
    k affine minhashes (universal-hash family; one shuffle total).
    ``docs`` needs (doc_id, text) — any frame, not just the full table
    (the incremental/streaming paths sign a batch slice)."""
    toks = _shingle_rows(docs, "doc_id").select("doc_id", hash32(F.col("w")).alias("hw"))
    aggs = [uminhash_agg(F.col("hw"), i).alias(f"h{i}") for i in range(N_HASHES)]
    return toks.groupBy("doc_id").agg(*aggs)


def _minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus minhash signatures, memoized per (session, corpus
    snapshot) — the persisted-signature-table pattern: ~10 registered
    queries consume this exact frame, and production would sign the
    corpus once, not per query. Sliced/subset signings go through
    :func:`_minhash_signature_of`, which stays pure."""
    from ..io import memo_checkpoint_rowwise

    # row-incremental family (VERDICT r13 item 2): signatures are
    # per-doc rows, so a corpus that GREW since the last publish signs
    # only its new files and chains them onto the parent snapshot by
    # reference instead of re-signing the whole corpus
    return memo_checkpoint_rowwise(
        spark,
        sf_dir,
        "documents",
        "minhash_signature",
        build_full=lambda: _minhash_signature_of(
            load_table(spark, sf_dir, "documents")
        ),
        # module-local lambda (not the bare function ref): the builder's
        # source file anchors the code fingerprint, and late binding
        # keeps a monkeypatched policy/builder honest
        build_batch=lambda docs: _minhash_signature_of(docs),
        extra_key=(N_HASHES,),
    )


def _minhash_signature_sql(src: str = "documents") -> str:
    """Signature CTE body over any (doc_id, text) relation ``src`` —
    the funnel signs a survivor subset, everything else the full table."""
    hashes = ", ".join(f"{uminhash_agg_sql('hw', i)} AS h{i}" for i in range(N_HASHES))
    return f"""
    SELECT doc_id, {hashes}
    FROM (SELECT doc_id, {hash32_sql('w')} AS hw
          FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS w FROM {src}))
    GROUP BY doc_id
    """


@register(
    "dedup_minhash_signature",
    oracle=f"SELECT * FROM ({_minhash_signature_sql()}) sig",
    doc="MinHash signatures: k=8 seeded md5 minhashes over distinct word-3-gram shingles.",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signature(spark, sf_dir)


_BANDS = [(f"b{bi}", f"h{bi * BAND_SIZE}", f"h{bi * BAND_SIZE + 1}") for bi in range(N_HASHES // BAND_SIZE)]

#: the oracle's LSH banding over a ``sig`` CTE: one (doc_id, band_idx,
#: band_key) row per doc and band, band_key the exact pairing h1 * P + h2
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band_idx, {h1} * {MINHASH_P} + {h2} AS band_key FROM sig"
    for bi, (_, h1, h2) in enumerate(_BANDS)
)


def _sig_bands_ctes() -> str:
    """The oracle's ``sig`` (signatures over the documents table) and
    ``bands`` CTEs."""
    return f"""sig AS ({_minhash_signature_sql()}),
bands AS (
    {_BANDS_SQL}
)"""


#: hot-bucket cap for the LSH band tables (the dedup_simhash64_hamming
#: discipline applied to minhash banding): a power-law mega-cluster (the
#: boilerplate page duplicated 100k times) puts its whole cluster into
#: ONE band bucket — the self-join there is C(cluster, 2), quadratic and
#: unbounded. Buckets over the cap are excluded from the ALL-PAIRS
#: self-join (two-phase count + anti-join, AQE-skew-splittable) and
#: handled by the bounded RECOVERY path instead: every member of a
#: capped bucket is paired with the bucket's representative (min doc_id)
#: — O(bucket) probe pairs, not O(bucket^2) — so the downstream exact
#: verifier still sees the REPRESENTATIVE'S cluster (the r8 skew smoke
#: showed capped buckets emitting zero pairs for exactly the
#: most-duplicated content). Scope of that guarantee: a SECOND distinct
#: near-dup cluster colliding into the same hot bucket is detected there
#: only through probes to the other cluster's anchor; its intra-cluster
#: pairs rely on the other bands' non-hot buckets (4 independent bands —
#: a real cluster agreeing on one band key almost surely agrees on
#: another). The cap's accounting
#: lives in ``dedup_lsh_bucket_stats``. Never binds at oracle SF
#: (buckets there are <= cluster ~10), and the oracle SQL mirrors the
#: capped + recovered semantics exactly (shared _lsh_pair_ctes), so
#: parity holds at ANY scale, not just while no bucket exceeds the cap.
LSH_MAX_BUCKET = 4096


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) rows from a minhash signature frame —
    UNCAPPED (ADVICE r9: a cap here would silently lose hot-bucket
    detection for a caller that forgets recovery; the cap lives in
    :func:`lsh_candidate_pairs` / :func:`build_corpus_dedup_index`,
    which pair capped members with their bucket representative)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                (F.col(h1) * F.lit(MINHASH_P) + F.col(h2)).alias("band_key"),
            )
            for bi, (_, h1, h2) in enumerate(_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def _hot_band_reps(keys: DataFrame, max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(band_idx, band_key, rep) for every band bucket over ``max_bucket``:
    the recovery anchors. ``keys`` must be UNCAPPED band keys. At most
    corpus/max_bucket rows by construction — always broadcastable."""
    return (
        keys.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"), F.min("doc_id").alias("rep"))
        .where(F.col("bucket_n") > max_bucket)
        .select("band_idx", "band_key", "rep")
    )


def lsh_candidate_pairs(sig: DataFrame, max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b, distinct) with the
    hot-bucket cap AND the bounded recovery path:

      * buckets <= ``max_bucket``: the ordinary band self-join;
      * buckets >  ``max_bucket``: every member pairs with the bucket's
        representative (min doc_id) — O(bucket) probe pairs instead of
        O(bucket^2), so a near-identical mega-cluster is still verified
        against one anchor and verdicted, never silently skipped.

    The hot-bucket frame has at most corpus/max_bucket rows, so both the
    anti-join and the probe join ride broadcasts — the recovery adds no
    wide exchange. Oracle twin: :func:`_lsh_pair_ctes`."""
    keys = _band_keys(sig)
    hot = _hot_band_reps(keys, max_bucket)
    live = keys.join(
        F.broadcast(hot.select("band_idx", "band_key")), ["band_idx", "band_key"], "left_anti"
    )
    a, b = live.alias("a"), live.alias("b")
    self_pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # rep = bucket min, so doc_a < doc_b holds for probes by construction
    probes = (
        keys.join(F.broadcast(hot), ["band_idx", "band_key"])
        .where(F.col("doc_id") > F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return self_pairs.unionByName(probes).distinct()


def _lsh_pair_ctes(pairs_name: str = "pairs") -> str:
    """Oracle CTE chain (appended after a ``bands`` CTE) mirroring
    :func:`lsh_candidate_pairs` exactly: capped band self-join plus the
    hot-bucket representative probes at the shared LSH_MAX_BUCKET. One
    definition shared by every LSH-pair-consuming oracle so engine and
    oracle agree on the capped semantics at any scale."""
    return f"""lshocc AS (
    SELECT band_idx, band_key, COUNT(*) AS bucket_n, MIN(doc_id) AS rep
    FROM bands GROUP BY 1, 2
),
{pairs_name} AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON b.band_idx = a.band_idx AND b.band_key = a.band_key
                    AND a.doc_id < b.doc_id
        JOIN lshocc o ON o.band_idx = a.band_idx AND o.band_key = a.band_key
        WHERE o.bucket_n <= {LSH_MAX_BUCKET}
        UNION ALL
        SELECT o.rep AS doc_a, b.doc_id AS doc_b
        FROM bands b
        JOIN lshocc o ON o.band_idx = b.band_idx AND o.band_key = b.band_key
        WHERE o.bucket_n > {LSH_MAX_BUCKET} AND b.doc_id > o.rep
    )
)"""


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
WITH {_sig_bands_ctes()},
{_lsh_pair_ctes()}
SELECT doc_a, doc_b FROM pairs
""",
    doc=(
        "MinHash-LSH candidate pairs: band the signature (4 bands x 2 hashes), "
        "equi-join on (band_idx, band_key) — the at-scale near-dup path: no "
        "O(n^2) compare, shuffle only on band keys. Band key is the exact "
        "integer pairing h1*P + h2 (both < P), no re-hash needed. Band "
        f"buckets over {LSH_MAX_BUCKET} rows skip the quadratic self-join; "
        "their members pair with the bucket representative instead "
        "(O(bucket) recovery probes), so mega-clusters stay detected at "
        "bounded cost. The oracle shares the capped+recovered semantics."
    ),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized like the signature it rides (three downstream queries —
    # components, histogram, recall eval — localCheckpointed this exact
    # frame per query before r11; now they share one materialization)
    from ..io import memo_checkpoint

    return memo_checkpoint(
        spark,
        sf_dir,
        "documents",
        "minhash_lsh_pairs",
        lambda: lsh_candidate_pairs(_minhash_signature(spark, sf_dir)),
        # full hash/band geometry rides the key, mirroring the signature
        # memo: a monkeypatched N_HASHES or BAND_SIZE rebuilds the
        # signature frame, and the pairs frame derived from it must
        # rebuild too, not serve stale banding (ADVICE r11)
        extra_key=(LSH_MAX_BUCKET, N_HASHES, BAND_SIZE),
    )


# ---------------------------------------------------------------- simhash

N_SIMHASH_BITS = 16


def _simhash_col() -> F.Column:
    """16-bit SimHash over a precomputed per-token md5 column ``mw``:
    bit i = majority sign of md5-nibble i (token hashed ONCE, not 16x)."""
    from ..functions.hashing import simhash_bit

    bits = []
    for i in range(1, N_SIMHASH_BITS + 1):
        s = F.sum(simhash_bit(F.col("mw"), i))
        bits.append(F.when(s >= 0, F.lit(2 ** (N_SIMHASH_BITS - i))).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _simhash_sql() -> str:
    from ..functions.hashing import simhash_bit_sql

    terms = [
        f"(CASE WHEN SUM({simhash_bit_sql('mw', i)}) >= 0 THEN {2 ** (N_SIMHASH_BITS - i)} ELSE 0 END)"
        for i in range(1, N_SIMHASH_BITS + 1)
    ]
    return " + ".join(terms)


@register(
    "dedup_simhash",
    oracle=f"""
SELECT doc_id, {_simhash_sql()} AS simhash
FROM (SELECT doc_id, md5(w) AS mw
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents))
GROUP BY doc_id
""",
    doc=(
        "SimHash: 16-bit majority signature over token hashes; near-dups share "
        "signatures (bucket on simhash, or hamming<=k via rotations at scale)."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).select("doc_id", F.md5("w").alias("mw"))
    return toks.groupBy("doc_id").agg(_simhash_col().cast("int").alias("simhash"))


# ----------------------------------------------------------- n-gram jaccard
#
# The exact verifiers are PARAMETERIZED STAGES over an explicit candidate-pair
# DataFrame: at scale the pair frame comes from LSH (dedup_lsh_verified), so
# the token stream is only ever joined THROUGH candidates — never against
# itself. The bounded doc_id < EVAL_SLICE forms survive only as oracle demo
# harnesses whose candidate generation is the token self-join the oracle SQL
# mirrors.

#: token-jaccard near-dup bar: the verdict threshold for LSH candidates and
#: the bounded demo's cut
VERIFY_JACCARD = 0.8

#: containment near-dup bar: the verdict threshold for LSH candidates and
#: the bounded demo's cut
VERIFY_CONTAINMENT = 0.9

#: ground-truth jaccard bar for the recall eval — matched to the banding
#: config's estimand (4 bands x 2 hashes surface j>=0.5 pairs w.h.p.)
TRUTH_JACCARD = 0.5

#: bounded slice (doc_id < EVAL_SLICE) of the demos and the recall eval
#: (all-pairs ground truth is O(slice^2) by definition)
EVAL_SLICE = 150


def distinct_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w): distinct whitespace tokens per document."""
    return docs.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))


#: SQL twin of :func:`distinct_tokens` over the documents table
_TOKENS_SQL = "SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents"


def _pair_intersections(
    pairs: DataFrame, toks: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, n_shared, na, nb) for every candidate pair.

    Pair-driven: ``toks`` joins through ``pairs`` on doc_id — the b-side join
    key is (doc_id, w), so Spark never builds the token×token self-join whose
    output is quadratic under stopword skew. Shuffle cost is O(|pairs| ×
    avg_tokens), the shape dedup_minhash_calibration established. Disjoint
    candidates come back with n_shared = 0 (left join), so downstream
    verdicts cover every candidate, not just overlapping ones. The oracle
    SQL's twin is :func:`_pair_intersections_sql`.

    ``sizes`` (r15): an optional pre-computed (doc_id, n) frame. The
    default derives it from ``toks`` — a third execution of the token
    explode; a caller holding the (doc_id, text) frame can supply
    ``F.size(F.array_distinct(F.split(...)))`` instead, a map-only
    projection with no explode and no extra pass (guide §2.4)."""
    if sizes is None:
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        pairs.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, (F.col("b.doc_id") == F.col("doc_b")) & (F.col("b.w") == F.col("a.w")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            F.col("sa.n").alias("na"),
            F.col("sb.n").alias("nb"),
        )
    )


def _pair_intersections_sql(pairs: str, toks: str) -> str:
    """SQL twin of :func:`_pair_intersections`: a CTE chain ending in
    ``pair_overlap`` = (doc_a, doc_b, n_shared, na, nb) for every row of the
    (doc_a, doc_b) relation ``pairs``, over the (doc_id, w) relation
    ``toks``. The same pair-driven join, and the same explicit 0 for a
    disjoint candidate."""
    return f"""po_sizes AS (SELECT doc_id, COUNT(*) AS n FROM {toks} GROUP BY doc_id),
po_inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
    FROM {pairs} p
    JOIN {toks} a ON a.doc_id = p.doc_a
    JOIN {toks} b ON b.doc_id = p.doc_b AND b.w = a.w
    GROUP BY p.doc_a, p.doc_b
),
pair_overlap AS (
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(i.n_shared, 0) AS BIGINT) AS n_shared,
           sa.n AS na, sb.n AS nb
    FROM {pairs} p
    JOIN po_sizes sa ON sa.doc_id = p.doc_a
    JOIN po_sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN po_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
)"""


def _jaccard() -> F.Column:
    """Exact jaccard of a :func:`_pair_intersections` row."""
    shared = F.col("n_shared")
    return shared.cast("double") / (F.col("na") + F.col("nb") - shared)


#: the SQL of :func:`_jaccard` and of the containment ratio over a
#: ``pair_overlap`` row
_JACCARD_SQL = "CAST(n_shared AS DOUBLE) / (na + nb - n_shared)"
_CONTAINMENT_SQL = "CAST(n_shared AS DOUBLE) / least(na, nb)"


def exact_jaccard(
    pairs: DataFrame, toks: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact token-set jaccard for an explicit candidate-pair frame.

    ``pairs``: (doc_a, doc_b) candidates (from LSH banding, simhash blocks,
    or any other recall stage). ``toks``: (doc_id, w) distinct tokens.
    ``sizes``: optional (doc_id, n) — see :func:`_pair_intersections`.
    Returns (doc_a, doc_b, n_shared, jaccard) for EVERY candidate pair."""
    return _pair_intersections(pairs, toks, sizes).select(
        "doc_a", "doc_b", "n_shared", _jaccard().alias("jaccard")
    )


def containment(pairs: DataFrame, toks: DataFrame) -> DataFrame:
    """Asymmetric containment |A∩B| / min(|A|,|B|) for an explicit
    candidate-pair frame; same pair-driven join as :func:`exact_jaccard`.
    Returns (doc_a, doc_b, n_shared, containment, smaller_is_a)."""
    base = _pair_intersections(pairs, toks)
    return base.select(
        "doc_a",
        "doc_b",
        "n_shared",
        (F.col("n_shared").cast("double") / F.least(F.col("na"), F.col("nb"))).alias(
            "containment"
        ),
        (F.col("na") < F.col("nb")).alias("smaller_is_a"),
    )


def _bounded_token_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Oracle-demo candidate generation: all (a < b) pairs sharing >= 1 token
    within the eval slice, and that slice's distinct tokens. Only the demo
    queries use it; the scale path is LSH candidates. SQL twin:
    :func:`_bounded_token_pairs_sql`."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < EVAL_SLICE)
    toks = distinct_tokens(docs)
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs, toks


def _bounded_token_pairs_sql() -> str:
    """SQL twin of :func:`_bounded_token_pairs`: ``toks`` and ``pairs`` CTEs."""
    return f"""toks AS ({_TOKENS_SQL} WHERE doc_id < {EVAL_SLICE}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
)"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_bounded_token_pairs_sql()},
{_pair_intersections_sql("pairs", "toks")}
SELECT doc_a, doc_b, {_JACCARD_SQL} AS jaccard
FROM pair_overlap
WHERE {_JACCARD_SQL} >= {VERIFY_JACCARD}
""",
    doc=(
        "Exact token-set jaccard demo over a bounded corpus slice: candidate "
        f"pairs (any shared token, doc_id<{EVAL_SLICE}) fed through the pair-driven "
        "exact_jaccard stage. The at-scale form is dedup_lsh_verified, where "
        "the same stage runs on LSH candidates over the full corpus."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, toks = _bounded_token_pairs(spark, sf_dir)
    return (
        exact_jaccard(pairs, toks)
        .select("doc_a", "doc_b", "jaccard")
        .where(F.col("jaccard") >= VERIFY_JACCARD)
    )


#: the oracle's LSH candidate pairs with their exact token overlap
#: (``pair_overlap``), shared by dedup_lsh_verified and
#: dedup_containment_verified
_LSH_TOKEN_OVERLAP_SQL = f"""{_sig_bands_ctes()},
{_lsh_pair_ctes()},
toks AS ({_TOKENS_SQL}),
{_pair_intersections_sql("pairs", "toks")}"""


@register(
    "dedup_lsh_verified",
    oracle=f"""
WITH {_LSH_TOKEN_OVERLAP_SQL}
SELECT doc_a, doc_b, n_shared,
       {_JACCARD_SQL} AS jaccard,
       ({_JACCARD_SQL} >= {VERIFY_JACCARD}) AS is_dup
FROM pair_overlap
""",
    doc=(
        "The end-to-end scale dedup path: MinHash-LSH candidate generation "
        "over the FULL corpus (no doc_id bound anywhere), then the exact "
        "token-jaccard verdict computed ONLY for candidates via the "
        "pair-driven exact_jaccard stage — recall from banding, precision "
        "from exact verification. At 100 TB every join here is an equi-join "
        "keyed by band hash or (doc_id, token); the token stream never "
        "self-joins."
    ),
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize candidates once — the verifier stage references the pair
    # frame three times (intersection probe + final left join + sizes), and
    # without this the whole shingle->minhash->band pipeline re-runs per use
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)  # memoized checkpoint
    verdicts = exact_jaccard(pairs, distinct_tokens(docs))
    return verdicts.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "jaccard",
        (F.col("jaccard") >= VERIFY_JACCARD).alias("is_dup"),
    )


@register(
    "dedup_containment_verified",
    oracle=f"""
WITH {_LSH_TOKEN_OVERLAP_SQL}
SELECT doc_a, doc_b, n_shared,
       {_CONTAINMENT_SQL} AS containment,
       (na < nb) AS smaller_is_a,
       ({_CONTAINMENT_SQL} >= {VERIFY_CONTAINMENT}) AS is_dup
FROM pair_overlap
""",
    doc=(
        "Containment verdicts for LSH candidates over the FULL corpus — the "
        "scale path for quote/subset dup detection (a doc fully embedded in "
        "a 10x-longer one has jaccard ~0.1 but containment 1.0, the common "
        "boilerplate-wrapper web-dup shape). Same pair-driven containment "
        "stage as the bounded demo; candidates from minhash banding."
    ),
)
def dedup_containment_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)  # memoized checkpoint
    verdicts = containment(pairs, distinct_tokens(docs))
    return verdicts.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "containment",
        "smaller_is_a",
        (F.col("containment") >= VERIFY_CONTAINMENT).alias("is_dup"),
    )


def _truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): every pair of the eval slice whose exact shingle
    jaccard is >= TRUTH_JACCARD — the all-pairs ground truth of
    dedup_lsh_recall_eval and dedup_banding_sweep, scored by the
    pair-driven stage over shingle rows. SQL twin: :func:`_banding_truth_sql`."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < EVAL_SLICE)
    sh = _shingle_rows(docs, "doc_id")
    ids = sh.select("doc_id").distinct()
    allp = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return (
        exact_jaccard(allp, sh)
        .where(F.col("jaccard") >= TRUTH_JACCARD)
        .select("doc_a", "doc_b")
    )


def _banding_truth_sql() -> str:
    """SQL twin of :func:`_truth_pairs`: a CTE chain ending in ``truth``,
    shared by the dedup_lsh_recall_eval and dedup_banding_sweep oracles."""
    return f"""sh AS (
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS w
    FROM documents WHERE doc_id < {EVAL_SLICE}
),
ids AS (SELECT DISTINCT doc_id FROM sh),
allp AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ids a JOIN ids b ON a.doc_id < b.doc_id
),
{_pair_intersections_sql("allp", "sh")},
truth AS (SELECT doc_a, doc_b FROM pair_overlap WHERE {_JACCARD_SQL} >= {TRUTH_JACCARD})"""


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
WITH {_sig_bands_ctes()},
{_lsh_pair_ctes(pairs_name="lshall")},
lsh AS (
    SELECT doc_a, doc_b FROM lshall
    WHERE doc_a < {EVAL_SLICE} AND doc_b < {EVAL_SLICE}
),
{_banding_truth_sql()},
hit AS (SELECT t.doc_a, t.doc_b FROM truth t JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_overlap,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
           / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
           / NULLIF((SELECT COUNT(*) FROM lsh), 0) AS precision_at_truth
""",
    doc=(
        "LSH banding recall eval: exact shingle-jaccard ground truth over a "
        "bounded all-pairs slice vs the banding's candidate pairs on the "
        "same slice — the dedup twin of sim_ann_recall_eval, and the number "
        "that justifies a banding config before a 100 TB run (4 bands x 2 "
        "hashes -> P[candidate] = 1-(1-j^2)^4, ~0.68 at j=0.5). Ground "
        "truth reuses the SAME pair-driven exact_jaccard stage, fed shingle "
        "rows instead of word tokens — the stage is measure-agnostic."
    ),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _truth_pairs(spark, sf_dir)
    lsh = dedup_minhash_lsh_pairs(spark, sf_dir).where(
        (F.col("doc_a") < EVAL_SLICE) & (F.col("doc_b") < EVAL_SLICE)
    )
    hit = truth.join(lsh, ["doc_a", "doc_b"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .join(F.broadcast(lsh.agg(F.count(F.lit(1)).alias("n_candidates"))))
        .join(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_overlap"))))
        .select(
            "n_truth",
            "n_candidates",
            "n_overlap",
            # empty slices are a legal input (an eval over a clean corpus):
            # NULL metric, never an ANSI divide-by-zero abort
            F.try_divide(F.col("n_overlap").cast("double"), F.col("n_truth")).alias(
                "recall"
            ),
            F.try_divide(
                F.col("n_overlap").cast("double"), F.col("n_candidates")
            ).alias("precision_at_truth"),
        )
    )


# -------------------------------------------------------- decontamination

#: held-out "benchmark" slice: everything from this source plays the role
#: of an eval set the training corpus must not leak
DECONTAM_HOLDOUT = "src0"

#: fraction of a doc's shingles found in the benchmark set -> contaminated
DECONTAM_FRAC = 0.5


@register(
    "dedup_decontaminate",
    oracle=f"""
WITH sh AS (
    SELECT doc_id, source, unnest({_SHINGLES_SQL}) AS w FROM documents
),
bench AS (SELECT DISTINCT w FROM sh WHERE source = '{DECONTAM_HOLDOUT}'),
corpus AS (SELECT doc_id, w FROM sh WHERE source <> '{DECONTAM_HOLDOUT}'),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
    SELECT c.doc_id, COUNT(*) AS n_contaminated
    FROM corpus c JOIN bench b ON c.w = b.w
    GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_grams AS contamination_frac,
       (CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_grams
           >= {DECONTAM_FRAC}) AS is_contaminated
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
""",
    doc=(
        "Train/eval decontamination: flag corpus documents whose word-3-gram "
        "shingles overlap a held-out benchmark slice — the standard 'remove "
        "test-set leakage before training' pass. The benchmark gram set is "
        "the small side (eval suites are tiny next to a 100 TB corpus) and "
        "the overlap is one equi-join on the gram, grouped per document; "
        "docs with zero overlap still report an explicit 0 (left join), "
        "because decontamination must PROVE cleanliness, not just list hits."
    ),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_rows(docs, "doc_id", "source")
    bench = sh.where(F.col("source") == DECONTAM_HOLDOUT).select("w").distinct()
    corpus = sh.where(F.col("source") != DECONTAM_HOLDOUT).select("doc_id", "w")
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = corpus.join(bench, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    contaminated = F.coalesce(F.col("n_contaminated"), F.lit(0))
    frac = contaminated.cast("double") / F.col("n_grams")
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            contaminated.cast("long").alias("n_contaminated"),
            frac.alias("contamination_frac"),
            (frac >= DECONTAM_FRAC).alias("is_contaminated"),
        )
    )


# ------------------------------------------------------- embedding cosine

_EMB_DUP_THRESHOLD = 0.3  # synthetic-corpus threshold; production near-dup ~0.95


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH {_sim_q_cte()},
dots AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
    FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
    GROUP BY 1, 2
), pairs AS (
    SELECT vec_a, vec_b
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
          > {_EMB_DUP_THRESHOLD}
)
SELECT vec_b AS dup_id, min(vec_a) AS canonical_id, COUNT(*) AS n_near
FROM pairs GROUP BY vec_b
""",
    doc=(
        "Embedding-cosine near-dup dedup: high-cosine pairs -> each dup keeps "
        "the lowest-id near neighbor as canonical (keep-first policy); at "
        "scale pairs come from LSH buckets, decision stage is identical."
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import cosine_pairs

    pairs = cosine_pairs(spark, sf_dir, threshold=_EMB_DUP_THRESHOLD)
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_near"),
    )


# ------------------------------------------------- simhash hamming buckets

N_BLOCKS = 2          # 16-bit signature split into 2 bytes
MAX_HAMMING = 1       # pigeonhole: hamming<=1 pairs share >=1 of 2 blocks


@register(
    "dedup_simhash_hamming",
    oracle=f"""
WITH sig AS (
SELECT doc_id, (CASE WHEN SUM(CASE WHEN substr(mw, 1, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 32768 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 2, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 16384 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 3, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 8192 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 4, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 4096 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 5, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 2048 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 6, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 1024 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 7, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 512 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 8, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 256 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 9, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 128 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 10, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 64 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 11, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 32 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 12, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 16 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 13, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 8 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 14, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 4 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 15, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 2 ELSE 0 END) + (CASE WHEN SUM(CASE WHEN substr(mw, 16, 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END) AS simhash
FROM (SELECT doc_id, md5(w) AS mw
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents WHERE doc_id < 200))
GROUP BY doc_id
),
blocks AS (
    SELECT doc_id, simhash, b.block_idx,
           (simhash // CAST(power(256, 1 - b.block_idx) AS BIGINT)) % 256 AS block_val
    FROM sig, (SELECT unnest(generate_series(0, {N_BLOCKS - 1})) AS block_idx) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM blocks a JOIN blocks b
      ON a.block_idx = b.block_idx AND a.block_val = b.block_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {MAX_HAMMING}
""",
    doc=(
        "SimHash near-dup pairs within hamming distance 1: the 16-bit "
        "signature splits into 2 byte blocks; by pigeonhole every <=1-bit "
        "pair collides on >=1 block, so candidates come from an equi-join on "
        "(block_idx, nibble) — the rotation/blocking trick that makes "
        "hamming search a hash join instead of an all-pairs scan."
    ),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup_simhash(spark, sf_dir).where(F.col("doc_id") < 200)  # bounded demo corpus (like dedup_ngram_jaccard)
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("block_idx"),
                ((F.col("simhash").cast("long") / F.lit(256 ** (1 - b))).cast("long") % 256).alias(
                    "block_val"
                ),
            )
            for b in range(N_BLOCKS)
        ]
    )
    blocks = sig.select("doc_id", "simhash", F.explode(block_structs).alias("b")).select(
        "doc_id", "simhash", F.col("b.block_idx").alias("block_idx"), F.col("b.block_val").alias("block_val")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b")).cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= MAX_HAMMING
    )


# ------------------------------------------------- connected components

MAX_CC_ITERATIONS = 20

#: the oracle's near-dup components: a WITH RECURSIVE head ending in
#: ``comp`` (doc_id, component = smallest reachable doc_id), the
#: transitive closure of the LSH pair graph that dedup_components,
#: dedup_cluster_size_histogram and sample_dedup_aware_split read
_COMPONENTS_SQL = f"""WITH RECURSIVE {_sig_bands_ctes()},
{_lsh_pair_ctes()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
walk(node, reach) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
),
comp AS (
    SELECT node AS doc_id, CAST(MIN(reach) AS BIGINT) AS component
    FROM walk GROUP BY node
)"""


@register(
    "dedup_components",
    oracle=f"""
{_COMPONENTS_SQL}
SELECT doc_id, component FROM comp
""",
    doc=(
        "Near-dup clusters from the MinHash-LSH pair graph (component id "
        "= smallest reachable doc_id). One bounded collect probes the "
        "pair graph; when it fits the driver (DRIVER_CC_MAX_EDGES), "
        "union-find by minimum id finishes it there and the mapping "
        "comes back as a job-free local relation. A larger graph runs "
        "distributed contraction rounds first: each hooks every live "
        "component to its min neighbor component, compresses that "
        "component-sized pointer table by doubling and contracts the "
        "edge graph through it, so rounds scale with LOG of the "
        "component count regardless of diameter or id ordering, until "
        "the contracted graph fits the driver. Lineage is truncated per "
        "round with localCheckpoint so 100 TB runs don't accumulate a "
        "deep DAG. The oracle is the recursive-CTE transitive closure of "
        "the same graph."
    ),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    return min_label_components(pairs, docs.select("doc_id"))


#: pointer-compression inner cap: depth of the per-round min-neighbor
#: forest halves per jump, so 2^30 covers any realistic descending chain
MAX_CC_COMPRESS_JUMPS = 30

#: largest component-edge graph finished on the driver: 2^16 edges of two
#: ids each is a few MB of Python objects, and union-find over it is tens
#: of milliseconds — well under the cost of one distributed round
DRIVER_CC_MAX_EDGES = 1 << 16


def _union_find_min(edges) -> dict:
    """node -> smallest node id in its connected component, for every
    node of ``edges`` (pairs of ids). Union by minimum root keeps every
    root its set's minimum; path halving keeps finds near-constant."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Connected components of an undirected pair graph (component id =
    smallest reachable node id): graph CONTRACTION on the cluster until
    the live component-edge graph fits the driver, then union-find there.

    Every round first probes the live edges with ONE bounded collect of
    at most DRIVER_CC_MAX_EDGES + 1 rows. When the graph fits, union-find
    by minimum id finishes it on the driver, and the result comes back
    as driver rows (``io.driver_frame``, a job-free local relation):
    before any distributed round that is the whole node mapping; after
    one, it is a (component, pc) pointer table the rewrite chain joins
    once. Only a graph above the bound runs a distributed round:
      1. each live component points at its smallest neighbor component;
      2. that pointer table (one row per component, << nodes) is
         compressed to a fixed point by pointer doubling;
      3. the node->component mapping is rewritten through it (a lazy
         join per round);
      4. the component edges are contracted through it (self-loops drop,
         duplicates merge).
    Descending pointer runs end in local minima, so at least half the
    live components merge away per round: rounds = O(log #components)
    regardless of diameter or id ordering (Kiveris et al., SoCC 2014).
    The r6 x100 smoke falsified the weaker schemes this replaced: plain
    min-label propagation needs diameter rounds (a 63-link chain of
    lag-rotated embeddings blew the 20-round cap), and per-node pointer
    jumping let minima crawl hop by hop under adversarial id ordering.
    Pointers only ever decrease, so the final label is the component
    minimum. Lineage truncates per round via localCheckpoint, and the
    per-round cost shrinks with the contracted graph. ``nodes`` supplies
    the full id universe: isolated nodes skip the loop and come back as
    their own singleton component. Shared by the text pair graph
    (dedup_components) and the embedding pair graph
    (dedup_semantic_keep_list)."""
    # materialize the pair graph ONCE — the probe and every distributed
    # round read it, and without this the upstream candidate pipeline
    # would re-run per read (measured 3.5x slower at sf0.1)
    from ..io import driver_frame, stats_reset_checkpoint

    spark = pairs.sparkSession
    cedges = stats_reset_checkpoint(
        pairs.select(F.col(a_col).alias("ca"), F.col(b_col).alias("cb"))
        .where(F.col("ca") != F.col("cb"))
        .distinct()
    )
    id_type = cedges.schema["ca"].dataType.simpleString()
    # node -> current component; only nodes with an edge ever change, so
    # the mapping covers members only and isolated nodes skip the loop
    mapping = None

    def _double(t: DataFrame) -> DataFrame:
        """One pointer-doubling step pc <- pc(pc) as a LAZY plan over a
        (c, pc, pc0) frame; pc0 (the pass-entry pointer) rides along so
        the pass's convergence check is a column compare, not a join."""
        return (
            t.alias("p")
            .join(
                t.select(F.col("c").alias("_c"), F.col("pc").alias("_pc")),
                F.col("p.pc") == F.col("_c"),
                "left",
            )
            .select(
                F.col("p.c").alias("c"),
                # roots may be absent from their own neighbor list only
                # when already final; coalesce keeps them fixed points
                F.coalesce(F.col("_pc"), F.col("p.pc")).alias("pc"),
                F.col("p.pc0").alias("pc0"),
            )
        )

    def _rewrite(mapping: DataFrame, ptr: DataFrame) -> DataFrame:
        """The node mapping through one (c, pc) pointer table — LAZILY
        (r15): each pointer table is a component-sized leaf, so the
        rewrite chain composes into the final plan with no per-round
        node-sized materialization."""
        return mapping.join(
            ptr.select(F.col("c").alias("component"), "pc"), "component", "left"
        ).select(
            id_col,
            F.coalesce(F.col("pc"), F.col("component")).alias("component"),
        )

    for _ in range(MAX_CC_ITERATIONS):
        # one job at any partition count: coalesce(1) keeps CollectLimit
        # from scaling its scan up over the partitions job by job
        head = cedges.coalesce(1).limit(DRIVER_CC_MAX_EDGES + 1).collect()
        if len(head) <= DRIVER_CC_MAX_EDGES:
            roots = sorted(_union_find_min(head).items())
            if mapping is None:
                # the whole graph fit: the mapping IS the driver rows
                mapping = driver_frame(
                    spark, roots, f"{id_col} {id_type}, component {id_type}"
                )
                break
            if roots:
                ptr = driver_frame(spark, roots, f"c {id_type}, pc {id_type}")
                mapping = _rewrite(mapping, ptr)
            # ONE node-sized materialization for the whole loop (the
            # isolated anti-join and the union both consume the chain)
            mapping = mapping.localCheckpoint()
            break
        if mapping is None:
            mapping = (
                cedges.select(F.col("ca").alias(id_col))
                .unionAll(cedges.select(F.col("cb").alias(id_col)))
                .distinct()
                .select(id_col, F.col(id_col).alias("component"))
            )
        # 1. hook every live component to its smallest neighbor component
        sym = cedges.unionAll(
            cedges.select(F.col("cb").alias("ca"), F.col("ca").alias("cb"))
        )
        ptr = stats_reset_checkpoint(
            sym.groupBy("ca")
            .agg(F.min("cb").alias("pc"))
            .select(
                F.col("ca").alias("c"),
                F.least(F.col("ca"), F.col("pc")).alias("pc"),
            )
        )
        # 2. compress the pointer forest to a fixed point. Fused per
        # VERDICT r14 item 4: TWO doubling steps compose lazily into one
        # materialized pass (pc <- pc(pc) applied twice = chase 4 hops),
        # and the convergence probe is a carried pc0 column compare on
        # the just-checkpointed frame instead of a join + count — per
        # pass 1 checkpoint job + 1 trivial isEmpty, where the r14 shape
        # paid (checkpoint + join-count) per SINGLE doubling. A fixed
        # point of the doubled pass is exactly a fixed point of single
        # doubling (if p.p = p then (p.p).(p.p) = p), so the final ptr
        # is the same root-min map.
        for _ in range(0, MAX_CC_COMPRESS_JUMPS, 2):
            seeded = ptr.select("c", "pc", F.col("pc").alias("pc0"))
            jumped = stats_reset_checkpoint(_double(_double(seeded)))
            ptr = jumped.select("c", "pc")
            if jumped.where(F.col("pc") != F.col("pc0")).isEmpty():
                break
        else:
            raise RuntimeError(
                f"pointer compression did not flatten in {MAX_CC_COMPRESS_JUMPS} jumps"
            )
        # 3. rewrite the node mapping through the compressed pointers
        mapping = _rewrite(mapping, ptr)
        # 4. contract the component edges
        ca_m = ptr.select(F.col("c").alias("ca"), F.col("pc").alias("ca_new"))
        cb_m = ptr.select(F.col("c").alias("cb"), F.col("pc").alias("cb_new"))
        cedges = stats_reset_checkpoint(
            cedges.join(ca_m, "ca")
            .join(cb_m, "cb")
            .select(F.col("ca_new").alias("ca"), F.col("cb_new").alias("cb"))
            .where(F.col("ca") != F.col("cb"))
            .distinct()
        )
    else:
        raise RuntimeError(f"label propagation did not converge in {MAX_CC_ITERATIONS} rounds")
    isolated = nodes.join(mapping, id_col, "left_anti").select(
        id_col, F.col(id_col).alias("component")
    )
    return mapping.unionAll(isolated)


@register(
    "dedup_keep_list",
    oracle="""
WITH keyed AS (
    SELECT doc_id, source, md5(text) AS cluster_md5 FROM documents
)
SELECT doc_id, source, cluster_md5,
       MIN(doc_id) OVER (PARTITION BY cluster_md5) AS canonical_doc_id,
       (doc_id = MIN(doc_id) OVER (PARTITION BY cluster_md5)) AS keep,
       COUNT(*) OVER (PARTITION BY cluster_md5) AS cluster_size
FROM keyed
""",
    doc=(
        "Per-document keep/drop decision list — the operational output of a "
        "dedup stage (dedup_exact shows the cluster view; pipelines apply "
        "THIS, a row per input doc with its verdict and canonical twin). "
        "Clustering keys on md5(text), not text itself, so the shuffle "
        "carries 16-byte keys instead of whole documents — at 100 TB "
        "that is the difference between shuffling hashes and shuffling "
        "the corpus. Cluster stats come from a two-phase groupBy+join, not "
        "a window over the content hash: min/count partially aggregate "
        "map-side, so a degenerate cluster (the empty doc, a boilerplate "
        "page) collapses to one row per task instead of one task holding "
        "the whole cluster, and the join back is AQE-skew-splittable."
    ),
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "source", F.md5("text").alias("cluster_md5"))
    stats = keyed.groupBy("cluster_md5").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return keyed.join(stats, "cluster_md5").select(
        "doc_id",
        "source",
        "cluster_md5",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep"),
        "cluster_size",
    )


@register(
    "dedup_containment",
    oracle=f"""
WITH {_bounded_token_pairs_sql()},
{_pair_intersections_sql("pairs", "toks")}
SELECT doc_a, doc_b, {_CONTAINMENT_SQL} AS containment, (na < nb) AS smaller_is_a
FROM pair_overlap
WHERE {_CONTAINMENT_SQL} >= {VERIFY_CONTAINMENT}
""",
    doc=(
        "Asymmetric containment dedup demo: |A∩B| / min(|A|,|B|) via the "
        "pair-driven containment stage over a bounded slice — catches the "
        "quote/subset relation jaccard structurally misses (a doc fully "
        "embedded in a 10x-longer one has jaccard ~0.1 but containment 1.0; "
        "boilerplate wrappers around copied bodies are THE common web-corpus "
        "dup shape). At scale the same stage runs on LSH candidate pairs "
        "(see dedup_lsh_verified), never on a token self-join."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, toks = _bounded_token_pairs(spark, sf_dir)
    return (
        containment(pairs, toks)
        .select("doc_a", "doc_b", "containment", "smaller_is_a")
        .where(F.col("containment") >= VERIFY_CONTAINMENT)
    )


def _signature_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every LSH candidate pair's exact shingle overlap (the
    :func:`_pair_intersections` row) joined to both minhash signatures
    (``sa.h*``, ``sb.h*``) with their agreement count ``n_agree`` — the
    estimator next to its estimand, shared by dedup_minhash_calibration
    and dedup_minhash_bbit. SQL twin: :func:`_signature_overlap_sql`."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)  # memoized checkpoint
    sig = _minhash_signature(spark, sf_dir)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    n_agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        _pair_intersections(pairs, _shingle_rows(docs, "doc_id"))
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .withColumn("n_agree", n_agree)
    )


def _signature_overlap_sql() -> str:
    """SQL twin of :func:`_signature_overlap`: a CTE chain ending in
    ``agree``, the ``pair_overlap`` row with both signatures (``ah*``,
    ``bh*``) and ``n_agree``."""
    return f"""{_sig_bands_ctes()},
{_lsh_pair_ctes()},
sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS w FROM documents),
{_pair_intersections_sql("pairs", "sh")},
agree AS (
    SELECT o.*,
           {", ".join(f"sa.h{i} AS ah{i}, sb.h{i} AS bh{i}" for i in range(N_HASHES))},
           ({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}) AS n_agree
    FROM pair_overlap o
    JOIN sig sa ON sa.doc_id = o.doc_a
    JOIN sig sb ON sb.doc_id = o.doc_b
)"""


@register(
    "dedup_minhash_calibration",
    oracle=f"""
WITH {_signature_overlap_sql()}
SELECT doc_a, doc_b, n_agree, n_shared, {_JACCARD_SQL} AS exact_jaccard
FROM agree
""",
    doc=(
        "MinHash estimator calibration: for every LSH candidate pair, the "
        "signature-agreement count (the estimator: E[n_agree/k] = jaccard) "
        "NEXT TO the exact shingle jaccard (the estimand) — the query you "
        "run before trusting a banding config at corpus scale, because it "
        "turns 'LSH found pairs' into measured precision. Exact "
        "intersections are computed ONLY for candidates (pairs join the "
        "shingle stream, never all-pairs); agreement is 8 integer "
        "comparisons off the already-built signatures."
    ),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signature_overlap(spark, sf_dir).select(
        "doc_a", "doc_b", "n_agree", "n_shared", _jaccard().alias("exact_jaccard")
    )


# ------------------------------------------------- 64-bit simhash (scale)

#: the 16-bit signature above saturates once the corpus outgrows 2^16
#: distinguishable neighborhoods (~65k docs); production simhash is 64-bit.
#: 64 independent +-1 decisions come from one md5 per SHINGLE (high bit of
#: each of the 32 nibbles + second bit of each nibble) — shingles, not
#: tokens, so word ORDER differentiates docs drawn from a small vocabulary.
N_SIM64_BLOCKS = 4        # 4 x 16-bit blocks
MAX_HAMMING64 = 3         # pigeonhole: hamming<=3 -> >=1 of 4 blocks equal

#: Manku et al. (WWW'07 §3) candidate tables for the hamming join. A bare
#: 16-bit pigeonhole key stops pruning past ~1e8 docs (occupancy n/2^16,
#: pair fan-out quadratic per bucket). Instead: re-split the 64 bits into
#: m=6 sub-blocks and build C(6, 6-k)=20 tables, each keyed on a distinct
#: choice of 3 sub-blocks (~32 key bits). A pair within hamming<=3 has
#: dirty bits in <=3 sub-blocks, so >=3 sub-blocks are clean, so some
#: 3-subset is fully clean -> some table finds the pair: recall stays
#: EXACT while occupancy drops to ~n/2^32 (singleton buckets up to ~1e9
#: docs). Sub-block widths are chosen so each sits inside one 32-bit half
#: (hi = b0||b1, lo = b2||b3): the extraction is then plain non-negative
#: shift/mask arithmetic, portable to the DuckDB oracle.
SIM64_TABLE_BLOCKS = 6            # m sub-blocks: widths 11,11,10 per half
SIM64_KEY_COMBOS = tuple(
    itertools.combinations(range(SIM64_TABLE_BLOCKS), SIM64_TABLE_BLOCKS - MAX_HAMMING64)
)
#: default hot-bucket cap (finite — VERDICT r3). With 32-bit keys any
#: bucket past this size is a pathological template cluster whose pair
#: fan-out is quadratic; members of a hot bucket are routed through the
#: signature-collapse star + bucket-rep probe recovery instead of the
#: self-join (VERDICT r10 item 2), and ``dedup_simhash64_bucket_stats``
#: reports exactly how many rows a given cap re-routes.
SIM64_MAX_BUCKET = 4096


def _sim64_subblock_cols() -> list[F.Column]:
    """The six Manku sub-block values from the stored b0..b3 ints."""
    cols = []
    for top, bottom in (("b0", "b1"), ("b2", "b3")):
        half = F.col(top).cast("long") * 65536 + F.col(bottom)
        cols += [
            F.shiftrightunsigned(half, 21),                       # top 11 bits
            F.shiftrightunsigned(half, 10).bitwiseAND(F.lit(0x7FF)),  # mid 11
            half.bitwiseAND(F.lit(0x3FF)),                        # low 10
        ]
    return cols


def _sim64_subblock_sql() -> list[str]:
    """DuckDB twins of :func:`_sim64_subblock_cols` (same shift/mask on the
    same non-negative halves)."""
    out = []
    for top, bottom in (("b0", "b1"), ("b2", "b3")):
        half = f"(CAST({top} AS BIGINT) * 65536 + {bottom})"
        out += [
            f"({half} >> 21)",
            f"(({half} >> 10) & 2047)",
            f"({half} & 1023)",
        ]
    return out


def _sim64_block_sql(j: int) -> str:
    from ..functions.hashing import simhash_bit2_sql, simhash_bit_sql

    terms = []
    for i in range(16):
        p = j * 16 + i
        dec = simhash_bit_sql("mw", p + 1) if p < 32 else simhash_bit2_sql("mw", p - 31)
        terms.append(f"(CASE WHEN SUM({dec}) >= 0 THEN {2 ** (15 - i)} ELSE 0 END)")
    return " + ".join(terms)


def _sim64_block_col(j: int) -> F.Column:
    """Block ``j`` (signature bits 16j..16j+15) as ONE SQL expression:
    bit p is the majority vote over the high bit of md5 nibble p (p < 32)
    or the second bit of nibble p - 32, each nibble cut from the four
    8-hex-digit chunk longs c0..c3 by integer shifts (no per-bit string
    slicing: the substring/IN form re-slices the hex 64x per row). One
    ``F.expr`` per block, not ~100 Column calls: every Column call is a
    py4j round trip plus a call-site capture."""
    terms = []
    for i in range(16):
        p = j * 16 + i
        n = p % 32  # zero-based nibble
        nib = f"(shiftrightunsigned(c{n // 8}, {4 * (7 - n % 8)}) & 15)"
        bit = f"{nib} >= 8" if p < 32 else f"({nib} & 4) != 0"
        terms.append(
            f"CASE WHEN sum(CASE WHEN {bit} THEN 1 ELSE -1 END) >= 0 "
            f"THEN {2 ** (15 - i)} ELSE 0 END"
        )
    return F.expr(" + ".join(terms))


_SIM64_SIG_SQL = f"""
SELECT doc_id, {", ".join(f"{_sim64_block_sql(j)} AS b{j}" for j in range(N_SIM64_BLOCKS))}
FROM (SELECT doc_id, md5(w) AS mw
      FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS w FROM documents))
GROUP BY doc_id
"""


def _simhash64_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus 64-bit simhash signatures, memoized per (session,
    corpus snapshot) — the most expensive signature pass in the suite
    (64 majority votes over every shingle md5), consumed by three
    registered queries; production persists it once per snapshot."""
    from ..io import memo_checkpoint_rowwise

    # row-incremental family — see _minhash_signature
    return memo_checkpoint_rowwise(
        spark, sf_dir, "documents", "simhash64_signature",
        build_full=lambda: _simhash64_signature_build(spark, sf_dir),
        build_batch=lambda docs: _simhash64_signature_of(docs),
    )


def _simhash64_signature_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash64_signature_of(load_table(spark, sf_dir, "documents"))


def _simhash64_signature_of(docs: DataFrame) -> DataFrame:
    """Signatures over ANY (doc_id, text) frame — the full table or a
    newly ingested batch slice (the incremental store path)."""
    sh = _shingle_rows(docs, "doc_id").select("doc_id", F.md5("w").alias("mw"))
    # the 128-bit md5 parses ONCE into four 32-bit chunk longs; every bit
    # decision is then an integer shift (see _sim64_block_col)
    chunks = [
        F.conv(F.substring("mw", 1 + 8 * c, 8), 16, 10).cast("long").alias(f"c{c}")
        for c in range(4)
    ]
    return (
        sh.select("doc_id", *chunks)
        .groupBy("doc_id")
        .agg(*[_sim64_block_col(j).cast("int").alias(f"b{j}") for j in range(N_SIM64_BLOCKS)])
    )


@register(
    "dedup_simhash64",
    oracle=_SIM64_SIG_SQL,
    doc=(
        "64-bit SimHash signatures stored as 4 x 16-bit block ints (b0..b3 "
        "— the pigeonhole layout, and it sidesteps int64 sign overflow). "
        "Majority vote over one md5 per distinct word-3-gram shingle; 64 "
        "decisions per shingle from one hash (both top bits of every "
        "nibble), so the shingle stream is hashed exactly once."
    ),
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash64_signature(spark, sf_dir)


def _sim64_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, tbl, key): one row per signature and Manku table. The
    20x-exploded frame carries ONLY these three columns: at 1e9 docs that
    is 20e9 narrow rows through the shuffle; the 4 signature ints re-join
    onto the (tiny after distinct) pair frame instead of riding every
    candidate row. SQL twin: ``_SIM64_KEYS_SQL``."""
    sub = _sim64_subblock_cols()
    key_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                ((sub[i] * 2048 + sub[j]) * 2048 + sub[k]).alias("key"),
            )
            for t, (i, j, k) in enumerate(SIM64_KEY_COMBOS)
        ]
    )
    return sig.select("doc_id", F.explode(key_structs).alias("g")).select(
        "doc_id", F.col("g.tbl").alias("tbl"), F.col("g.key").alias("key")
    )


_SIM64_KEYS_SQL = f"""
SELECT doc_id, tbl, key FROM (
    WITH sub AS (
        SELECT doc_id,
               {", ".join(f"{s} AS v{i}" for i, s in enumerate(_sim64_subblock_sql()))}
        FROM sig
    )
    {" UNION ALL ".join(
        f"SELECT doc_id, {t} AS tbl, (v{i} * 2048 + v{j}) * 2048 + v{k} AS key FROM sub"
        for t, (i, j, k) in enumerate(SIM64_KEY_COMBOS)
    )}
)
"""


def _sim64_pair_ctes() -> str:
    """Oracle CTE chain (appended after ``sig`` and ``keys`` CTEs) mirroring
    the capped + recovered candidate generation of
    :func:`dedup_simhash64_hamming` exactly — the simhash twin of
    :func:`_lsh_pair_ctes` (VERDICT r10 item 2). Produces a ``cand``
    CTE of distinct (doc_a, doc_b):

      * buckets <= SIM64_MAX_BUCKET: ordinary key self-join;
      * hot buckets: members collapse by EXACT 64-bit signature — star
        edges (group-min, member) are hamming-0 by construction — and
        the distinct-signature group reps probe the bucket-min rep,
        surviving only if the downstream hamming filter passes.
    """
    sigjoin = " AND ".join(f"g.b{j} = h.b{j}" for j in range(N_SIM64_BLOCKS))
    return f"""socc AS (
    SELECT tbl, key, COUNT(*) AS bucket_n FROM keys GROUP BY 1, 2
),
hotm AS (
    SELECT k.doc_id, k.tbl, k.key,
           {", ".join(f"s.b{j}" for j in range(N_SIM64_BLOCKS))}
    FROM keys k
    JOIN socc o ON o.tbl = k.tbl AND o.key = k.key AND o.bucket_n > {SIM64_MAX_BUCKET}
    JOIN sig s ON s.doc_id = k.doc_id
),
sgrp AS (
    SELECT tbl, key, {", ".join(f"b{j}" for j in range(N_SIM64_BLOCKS))},
           MIN(doc_id) AS grep
    FROM hotm GROUP BY 1, 2, 3, 4, 5, 6
),
bmin AS (SELECT tbl, key, MIN(grep) AS brep FROM sgrp GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keys a
        JOIN keys b ON b.tbl = a.tbl AND b.key = a.key AND a.doc_id < b.doc_id
        JOIN socc o ON o.tbl = a.tbl AND o.key = a.key
                   AND o.bucket_n <= {SIM64_MAX_BUCKET}
        UNION ALL
        SELECT g.grep AS doc_a, h.doc_id AS doc_b
        FROM hotm h
        JOIN sgrp g ON g.tbl = h.tbl AND g.key = h.key AND {sigjoin}
        WHERE h.doc_id > g.grep
        UNION ALL
        SELECT m.brep AS doc_a, g.grep AS doc_b
        FROM sgrp g JOIN bmin m ON m.tbl = g.tbl AND m.key = g.key
        WHERE g.grep > m.brep
    )
)"""


@register(
    "dedup_simhash64_hamming",
    # sig/keys MATERIALIZED: DuckDB otherwise inlines the whole
    # shingle->md5->majority aggregation into all 20 key-table branches
    # AND both self-join sides (measured 38.5 s -> 1.1 s at sf0.01)
    oracle=f"""
WITH sig AS MATERIALIZED ({_SIM64_SIG_SQL}),
keys AS MATERIALIZED ({_SIM64_KEYS_SQL}),
{_sim64_pair_ctes()}
SELECT doc_a, doc_b,
       CAST({" + ".join(f"bit_count(xor(sa.b{j}, sb.b{j}))" for j in range(N_SIM64_BLOCKS))} AS INTEGER)
           AS hamming
FROM cand
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
WHERE {" + ".join(f"bit_count(xor(sa.b{j}, sb.b{j}))" for j in range(N_SIM64_BLOCKS))} <= {MAX_HAMMING64}
""",
    doc=(
        f"64-bit SimHash near-dup pairs within hamming distance {MAX_HAMMING64} "
        "over the FULL corpus — no doc_id bound anywhere. Candidates come "
        f"from {len(SIM64_KEY_COMBOS)} Manku tables (WWW'07 §3): the 64 bits "
        f"re-split into {SIM64_TABLE_BLOCKS} sub-blocks, one table per "
        "3-sub-block choice, equi-joined on the packed ~32-bit key, exact "
        "hamming only on collisions. Recall is exact (any <=3 dirty bits "
        "leave >=3 clean sub-blocks, so some 3-subset is clean) while "
        "bucket occupancy stays ~n/2^32 — the blocking that survives 1e9+ "
        "docs, where the plain 16-bit pigeonhole saturates at occupancy "
        "n/2^16. ``max_bucket`` "
        f"(default {SIM64_MAX_BUCKET}) removes over-common keys from the "
        "quadratic self-join — the Dolma-style hash-skew guard — but hot "
        "buckets are RECOVERED, not silenced (VERDICT r10 item 2, the "
        "lsh_candidate_pairs pattern): hot-bucket members collapse by "
        "exact signature (star edges to the group min are hamming-0 true "
        "pairs, so an identical mega-cluster stays one component at "
        "O(cluster) cost) and the distinct-signature group reps probe the "
        "bucket-min rep through the same exact-hamming filter. The oracle "
        "shares the capped+recovered semantics via _sim64_pair_ctes, so "
        "parity holds at ANY scale, not just while no bucket is hot. "
        "``dedup_simhash64_bucket_stats`` accounts the rows the cap "
        "routes through recovery."
    ),
)
def dedup_simhash64_hamming(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = SIM64_MAX_BUCKET
) -> DataFrame:
    sig = _simhash64_signature(spark, sf_dir)  # memoized localCheckpoint
    keys = _sim64_keys(sig)
    sigcols = [f"b{j}" for j in range(N_SIM64_BLOCKS)]
    if max_bucket is not None:
        # two-phase hot-key cap: groupBy partial-aggregates the hot key
        # map-side (a count window over the same key could not). The hot
        # frame is at most n/max_bucket rows by construction — always
        # broadcastable, so neither the anti-join nor the recovery joins
        # add a wide exchange.
        hot = (
            keys.groupBy("tbl", "key")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
            .where(F.col("bucket_n") > max_bucket)
            .select("tbl", "key")
        )
        live = keys.join(F.broadcast(hot), ["tbl", "key"], "left_anti")
        # recovery (the lsh_candidate_pairs pattern): hot-bucket members
        # collapse by exact 64-bit signature — star edges (group-min,
        # member) are hamming-0 by construction, so an identical
        # mega-cluster survives as O(cluster) rows instead of silently
        # vanishing — and the distinct-signature group reps probe the
        # bucket-min rep, verified by the same exact-hamming filter below.
        hotm = keys.join(F.broadcast(hot), ["tbl", "key"]).join(sig, "doc_id")
        grp = hotm.groupBy("tbl", "key", *sigcols).agg(F.min("doc_id").alias("grep"))
        star = (
            hotm.join(grp, ["tbl", "key", *sigcols])
            .where(F.col("doc_id") > F.col("grep"))
            .select(F.col("grep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
        bmin = grp.groupBy("tbl", "key").agg(F.min("grep").alias("brep"))
        probe = (
            grp.join(bmin, ["tbl", "key"])
            .where(F.col("grep") > F.col("brep"))
            .select(F.col("brep").alias("doc_a"), F.col("grep").alias("doc_b"))
        )
    else:
        live, star, probe = keys, None, None
    a, b = live.alias("a"), live.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    if star is not None:
        pairs = pairs.unionByName(star).unionByName(probe)
    pairs = pairs.distinct()
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(N_SIM64_BLOCKS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(N_SIM64_BLOCKS)],
    )
    cand = pairs.join(sa, "doc_a").join(sb, "doc_b")
    hamming = sum(
        F.bit_count(F.expr(f"a{j} ^ c{j}")) for j in range(N_SIM64_BLOCKS)
    ).cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= MAX_HAMMING64
    )


@register(
    "dedup_simhash64_bucket_stats",
    oracle=f"""
WITH sig AS MATERIALIZED ({_SIM64_SIG_SQL}),
keys AS MATERIALIZED ({_SIM64_KEYS_SQL}),
occ AS (SELECT tbl, key, COUNT(*) AS bucket_n FROM keys GROUP BY tbl, key)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(bucket_n) AS BIGINT) AS max_occupancy,
       CAST(SUM(CASE WHEN bucket_n > {SIM64_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
           AS hot_buckets,
       CAST(SUM(CASE WHEN bucket_n > {SIM64_MAX_BUCKET} THEN bucket_n ELSE 0 END) AS BIGINT)
           AS capped_rows
FROM occ
""",
    doc=(
        "Occupancy accounting for the Manku candidate tables of "
        "``dedup_simhash64_hamming``: bucket count, max occupancy, and "
        f"exactly how many key rows the default cap ({SIM64_MAX_BUCKET}) "
        "routes through the star/probe recovery instead of the quadratic "
        "self-join (capped_rows — since VERDICT r10 item 2 these rows are "
        "RECOVERED, not dropped: hot-bucket members re-enter as "
        "signature-collapse star edges plus bucket-rep probes). A lazy "
        "plan cannot side-effect a count, so cap accounting is its own "
        "one-action diagnostic (the scale smoke asserts on it per round)."
    ),
)
def dedup_simhash64_bucket_stats(
    spark: SparkSession, sf_dir: str, max_bucket: int = SIM64_MAX_BUCKET
) -> DataFrame:
    occ = simhash64_bucket_occupancy(spark, sf_dir)
    return occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_n").alias("max_occupancy"),
        F.sum((F.col("bucket_n") > max_bucket).cast("long")).alias("hot_buckets"),
        F.sum(
            F.when(F.col("bucket_n") > max_bucket, F.col("bucket_n")).otherwise(F.lit(0))
        ).alias("capped_rows"),
    )


def simhash64_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(table, key) occupancy of the Manku candidate tables — the frame
    ``dedup_simhash64_bucket_stats`` aggregates and the scale smoke asserts
    on directly."""
    return (
        _sim64_keys(_simhash64_signature(spark, sf_dir))
        .groupBy("tbl", "key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
    )


# ------------------------------------------------- incremental ingest dedup

#: deterministic "today's crawl" slice: doc_id % MOD == REM plays the new
#: batch; everything else is the already-ingested corpus
INCR_BATCH_MOD = 10
INCR_BATCH_REM = 7


_INCR_SQL = f"""
WITH {_sig_bands_ctes()},
batchdocs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
),
corpusdocs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}
),
corpus_ck AS (
    SELECT md5(text) AS ck, MIN(doc_id) AS exact_match_id FROM corpusdocs GROUP BY 1
),
exact AS (
    SELECT b.doc_id, c.exact_match_id
    FROM batchdocs b JOIN corpus_ck c ON c.ck = md5(b.text)
),
bandsb AS (SELECT * FROM bands WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}),
bandsc AS (SELECT * FROM bands WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}),
iocc AS (
    SELECT band_idx, band_key, COUNT(*) AS bucket_n, MIN(doc_id) AS rep
    FROM bandsc GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandsb a
        JOIN bandsc b ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        JOIN iocc o ON o.band_idx = a.band_idx AND o.band_key = a.band_key
        WHERE o.bucket_n <= {LSH_MAX_BUCKET}
        UNION ALL
        SELECT a.doc_id AS doc_a, o.rep AS doc_b
        FROM bandsb a
        JOIN iocc o ON o.band_idx = a.band_idx AND o.band_key = a.band_key
        WHERE o.bucket_n > {LSH_MAX_BUCKET}
    )
),
toks AS ({_TOKENS_SQL}),
{_pair_intersections_sql("cand", "toks")},
verified AS (SELECT doc_a, doc_b, {_JACCARD_SQL} AS jaccard FROM pair_overlap),
best AS (
    SELECT doc_a, doc_b AS near_match_id, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a
                                     ORDER BY jaccard DESC, doc_b) AS rk
        FROM verified WHERE jaccard >= {VERIFY_JACCARD}
    ) WHERE rk = 1
)
SELECT b.doc_id,
       CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact_dup'
            WHEN n.near_match_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       CAST(COALESCE(e.exact_match_id, n.near_match_id) AS BIGINT) AS match_id,
       CASE WHEN e.exact_match_id IS NULL THEN n.jaccard END AS jaccard
FROM batchdocs b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN best n ON n.doc_a = b.doc_id
"""


@register(
    "dedup_incremental",
    oracle=_INCR_SQL,
    doc=(
        "Incremental ingest dedup — the shape a 100 TB pipeline actually "
        "runs daily: dedup the NEW batch against the existing corpus "
        "without ever re-pairing the corpus with itself. Stage 1: exact "
        "md5 lookup against the corpus's collapsed hash->min-doc frame "
        "(hashes shuffle, never text). Stage 2: minhash band keys of the "
        "batch equi-join the corpus's band keys — candidate volume scales "
        "with |batch|, not |corpus|^2 — then the pair-driven exact-jaccard "
        "verifier scores candidates and a scale-safe struct-max picks the "
        "best match (highest jaccard, lowest doc_id tiebreak; a partial- "
        "aggregable groupBy, not a window). Verdict precedence: exact_dup "
        "> near_dup > unique; every batch doc is scored. Intra-batch "
        "duplicates are dedup_exact's job, deliberately out of scope here "
        "(in production the batch is deduped internally first, then "
        "against the corpus index)."
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    # r15: minhash is per-doc, so both the corpus index and the batch
    # probe ride doc_id slices of the PERSISTED signature table — the
    # r14 shape re-signed each side from text, and the multi-consumer
    # key frames re-executed those signings (2x corpus + 2x batch)
    sig = _minhash_signature(spark, sf_dir)
    index = build_corpus_dedup_index(docs.where(~in_batch), sig=sig.where(~in_batch))
    return incremental_verdicts(
        docs.where(in_batch), index, batch_sig=sig.where(in_batch)
    )


@register(
    "dedup_lsh_bucket_stats",
    oracle=f"""
WITH {_sig_bands_ctes()},
occ AS (SELECT band_idx, band_key, COUNT(*) AS bucket_n FROM bands GROUP BY 1, 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(bucket_n) AS BIGINT) AS max_occupancy,
       CAST(SUM(CASE WHEN bucket_n > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
           AS hot_buckets,
       CAST(SUM(CASE WHEN bucket_n > {LSH_MAX_BUCKET} THEN bucket_n ELSE 0 END) AS BIGINT)
           AS dropped_rows,
       CAST(SUM(CASE WHEN bucket_n > {LSH_MAX_BUCKET} THEN bucket_n - 1 ELSE 0 END) AS BIGINT)
           AS recovered_probes
FROM occ
""",
    doc=(
        "Occupancy accounting for the minhash LSH band tables — exactly "
        f"what the LSH_MAX_BUCKET ({LSH_MAX_BUCKET}) hot-bucket cap "
        "excludes from the candidate SELF-JOIN (the "
        "dedup_simhash64_bucket_stats grammar): bucket count, max "
        "occupancy, hot buckets, rows in capped buckets, and "
        "recovered_probes — per-band PRE-DISTINCT probe rows (bucket_n "
        "- 1 per hot bucket), an UPPER BOUND on the distinct "
        "(representative, member) pairs the recovery path emits: the "
        "same pair recovered in k bands leaves lsh_candidate_pairs once "
        "after its .distinct(). The adversarial-skew smoke "
        "asserts the cap ENGAGES on a power-law mega-cluster with every "
        "row accounted and its members still verdicted via the probes."
    ),
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    occ = (
        _band_keys(_minhash_signature(spark, sf_dir))
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
    )
    return occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_n").alias("max_occupancy"),
        F.sum((F.col("bucket_n") > LSH_MAX_BUCKET).cast("long")).alias("hot_buckets"),
        F.sum(
            F.when(F.col("bucket_n") > LSH_MAX_BUCKET, F.col("bucket_n")).otherwise(
                F.lit(0)
            )
        ).alias("dropped_rows"),
        F.sum(
            F.when(F.col("bucket_n") > LSH_MAX_BUCKET, F.col("bucket_n") - 1).otherwise(
                F.lit(0)
            )
        ).alias("recovered_probes"),
    )


def build_corpus_dedup_index(
    corpus: DataFrame,
    max_bucket: int = LSH_MAX_BUCKET,
    sig: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The persisted dedup index of an already-ingested corpus: the four
    frames incremental dedup probes — collapsed content-hash -> min doc
    (``ck``), LIVE minhash band keys (``bands``, hot buckets excluded),
    hot-bucket representatives (``hot_reps`` — one anchor row per capped
    bucket, so a batch doc probing a mega-cluster's bucket is verified
    against the cluster anchor instead of silently missing it), and
    distinct tokens (``toks``). In production these are tables maintained
    alongside the corpus (appended per ingest); here they are lazy frames
    the caller may localCheckpoint once and reuse across many batches
    (the streaming twin does exactly that).

    ``sig`` (r15): optional precomputed minhash signatures for ``corpus``
    — minhash is per-doc, so a caller whose corpus is a doc_id slice of
    the full table can pass the PERSISTED signature table filtered to
    the slice instead of re-signing from text (the keys frame below has
    two consumers, so the build otherwise runs the shingle explode +
    minhash aggregation twice)."""
    if sig is None:
        sig = _minhash_signature_of(corpus)
    keys = _band_keys(sig)
    hot = _hot_band_reps(keys, max_bucket)
    return {
        "ck": (
            corpus.select(F.md5("text").alias("ck"), "doc_id")
            .groupBy("ck")
            .agg(F.min("doc_id").alias("exact_match_id"))
        ),
        "bands": keys.join(
            F.broadcast(hot.select("band_idx", "band_key")),
            ["band_idx", "band_key"],
            "left_anti",
        ),
        "hot_reps": hot,
        "toks": distinct_tokens(corpus),
        # per-doc distinct-token counts as a map-only projection (r15):
        # deriving them from the toks explode inside the verifier was a
        # THIRD execution of the token stream
        "sizes": corpus.select(
            "doc_id", F.size(F.array_distinct(F.split("text", " "))).alias("n")
        ),
    }


def incremental_verdicts(
    batch: DataFrame,
    index: dict[str, DataFrame],
    batch_sig: DataFrame | None = None,
) -> DataFrame:
    """Per-batch-doc dedup verdicts against a corpus index
    (:func:`build_corpus_dedup_index`): exact_dup / near_dup / unique with
    the matched corpus doc and verified jaccard. Candidate volume scales
    with |batch|; the corpus never self-joins."""
    # stage 1: exact content-hash lookup
    exact = batch.select("doc_id", F.md5("text").alias("ck")).join(
        index["ck"], "ck", "left"
    ).select("doc_id", "exact_match_id")

    # stage 2: LSH candidates, batch side x corpus index only. The batch
    # side is uncapped (it probes; it never self-joins) — candidate
    # volume is |batch keys| x live-bucket density, plus ONE probe per
    # (batch key, hot corpus bucket) against the bucket representative,
    # so a batch doc near-dup of a capped mega-cluster verdicts near_dup
    # instead of unique.
    # ``batch_sig`` (r15): same per-doc-signature reuse as the index side
    # — bkeys has two consumers (self_cand, probe_cand), so an un-reused
    # batch signing would run twice
    bkeys = _band_keys(
        _minhash_signature_of(batch) if batch_sig is None else batch_sig
    )
    bb = bkeys.alias("a")
    cb = index["bands"].alias("b")
    self_cand = bb.join(
        cb,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    probe_cand = bkeys.join(
        F.broadcast(index["hot_reps"]), ["band_idx", "band_key"]
    ).select(F.col("doc_id").alias("doc_a"), F.col("rep").alias("doc_b"))
    pairs = (
        self_cand.unionByName(probe_cand)
        .distinct()
        .localCheckpoint()  # the verifier references the pair frame 3x
    )
    toks = distinct_tokens(batch).unionByName(index["toks"])
    # distinct-token sizes map-only: the index carries the corpus side
    sizes = batch.select(
        "doc_id", F.size(F.array_distinct(F.split("text", " "))).alias("n")
    ).unionByName(index["sizes"])
    verified = exact_jaccard(pairs, toks, sizes).where(
        F.col("jaccard") >= VERIFY_JACCARD
    )
    # best match per batch doc: highest jaccard, lowest corpus doc_id on
    # ties — a struct-max groupBy (partial-aggregable), never a window
    best = (
        verified.groupBy("doc_a")
        .agg(F.max(F.struct(F.col("jaccard"), (-F.col("doc_b")).alias("neg_b"))).alias("m"))
        .select(
            F.col("doc_a").alias("doc_id"),
            (-F.col("m.neg_b")).alias("near_match_id"),
            F.col("m.jaccard").alias("near_jaccard"),
        )
    )
    out = (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("exact_match_id").isNotNull(), "exact_dup")
        .when(F.col("near_match_id").isNotNull(), "near_dup")
        .otherwise("unique")
    )
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        F.coalesce("exact_match_id", "near_match_id").alias("match_id"),
        F.when(F.col("exact_match_id").isNull(), F.col("near_jaccard")).alias("jaccard"),
    )


@register(
    "pipeline_incremental_manifest",
    oracle=f"""
WITH incr AS ({_INCR_SQL}),
q AS (
    SELECT doc_id,
           (len(string_split(text, ' ')) >= 20 AND
            CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
                / len(string_split(text, ' ')) < 0.3) AS passes_quality
    FROM documents WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
)
SELECT i.doc_id,
       i.verdict,
       q.passes_quality,
       (i.verdict = 'unique' AND q.passes_quality) AS keep,
       CASE WHEN i.verdict <> 'unique' THEN i.verdict
            WHEN NOT q.passes_quality THEN 'quality' END AS drop_reason
FROM incr i JOIN q ON q.doc_id = i.doc_id
""",
    doc=(
        "The daily-ingest manifest: per NEW-batch doc, the dedup verdict "
        "against the existing corpus (dedup_incremental: exact_dup / "
        "near_dup / unique), the Gopher-style quality gate, the final keep "
        "bit and the first-failing drop_reason (duplicate verdicts win "
        "over quality, matching pipeline_keep_manifest's precedence). This "
        "is what an incremental training-corpus build consumes: append "
        "keep=true rows, log the rest — the full-corpus keep manifest "
        "never recomputes."
    ),
)
def pipeline_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    quality = docs.where(in_batch).select(
        "doc_id",
        (
            (n_tokens >= 20) & (n_stop.cast("double") / n_tokens < 0.3)
        ).alias("passes_quality"),
    )
    incr = dedup_incremental(spark, sf_dir)
    out = incr.join(quality, "doc_id")
    keep = (F.col("verdict") == "unique") & F.col("passes_quality")
    reason = F.when(F.col("verdict") != "unique", F.col("verdict")).when(
        ~F.col("passes_quality"), "quality"
    )
    return out.select(
        "doc_id",
        "verdict",
        "passes_quality",
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


# ------------------------------------------------- banding parameter sweep

#: candidate (n_bands, rows_per_band) configs carved from the SAME 8
#: minhashes — the sweep a pipeline runs BEFORE committing to a banding
BANDING_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def _banding_hit_sql(n_bands: int, rows: int) -> str:
    bands = []
    for bi in range(n_bands):
        eqs = " AND ".join(f"ah{bi * rows + j} = bh{bi * rows + j}" for j in range(rows))
        bands.append(f"({eqs})")
    return " OR ".join(bands)


@register(
    "dedup_banding_sweep",
    oracle=f"""
WITH sig AS ({_minhash_signature_sql()}),
{_banding_truth_sql()},
ps AS (
    SELECT t.doc_a, t.doc_b,
           {", ".join(f"a.h{i} AS ah{i}, b.h{i} AS bh{i}" for i in range(N_HASHES))}
    FROM truth t
    JOIN sig a ON a.doc_id = t.doc_a
    JOIN sig b ON b.doc_id = t.doc_b
),
agg AS (
    SELECT COUNT(*) AS n_truth,
           {", ".join(f"SUM(CASE WHEN {_banding_hit_sql(b, r)} THEN 1 ELSE 0 END) AS hit_{b}_{r}" for b, r in BANDING_CONFIGS)}
    FROM ps
)
{" UNION ALL ".join(
    f"SELECT {b} AS n_bands, {r} AS rows_per_band, CAST(n_truth AS BIGINT) AS n_truth, "
    f"CAST(hit_{b}_{r} AS BIGINT) AS n_hit, "
    f"CAST(hit_{b}_{r} AS DOUBLE) / NULLIF(n_truth, 0) AS recall FROM agg"
    for b, r in BANDING_CONFIGS)}
""",
    doc=(
        "LSH banding parameter sweep: MEASURED recall of every (n_bands, "
        "rows_per_band) config carvable from the same 8 minhashes, against "
        "the exact-jaccard ground truth on the bounded eval slice — the "
        "empirical S-curve a pipeline consults before committing a banding "
        "to a 100 TB run (more bands/fewer rows = recall up, candidate "
        "volume up; the sweep quantifies the tradeoff on THIS corpus "
        "instead of trusting 1-(1-j^r)^b on an assumed j distribution). "
        "Signatures are computed once; each config is a pure boolean "
        "expression over the truth-pair frame (no extra self-joins), so "
        "the whole sweep costs one bounded-slice pass + one aggregate."
    ),
)
def dedup_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _truth_pairs(spark, sf_dir)
    sig = _minhash_signature(spark, sf_dir).where(F.col("doc_id") < EVAL_SLICE)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"ah{i}") for i in range(N_HASHES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"bh{i}") for i in range(N_HASHES)]
    )
    ps = truth.join(sa, "doc_a").join(sb, "doc_b")

    def hit(b: int, r: int) -> F.Column:
        out = F.lit(False)
        for bi in range(b):
            eq = F.lit(True)
            for j in range(r):
                eq = eq & (F.col(f"ah{bi * r + j}") == F.col(f"bh{bi * r + j}"))
            out = out | eq
        return out

    agg = ps.agg(
        F.count(F.lit(1)).alias("n_truth"),
        *[
            F.sum(F.when(hit(b, r), 1).otherwise(0)).alias(f"hit_{b}_{r}")
            for b, r in BANDING_CONFIGS
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("rows_per_band"),
                F.col(f"hit_{b}_{r}").cast("long").alias("n_hit"),
            )
            for b, r in BANDING_CONFIGS
        ]
    )
    return (
        agg.select(F.col("n_truth").cast("long").alias("n_truth"), F.explode(rows).alias("c"))
        .select(
            F.col("c.n_bands").alias("n_bands"),
            F.col("c.rows_per_band").alias("rows_per_band"),
            "n_truth",
            F.col("c.n_hit").alias("n_hit"),
            F.try_divide(F.col("c.n_hit").cast("double"), F.col("n_truth")).alias("recall"),
        )
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
{_COMPONENTS_SQL},
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
""",
    doc=(
        "Cluster-size histogram of the near-dup component graph — the "
        "one-glance dedup health check: how much of the corpus sits in "
        "singletons vs template mega-clusters (the tail that decides "
        "whether a keep-one-per-cluster policy saves 1% or 40% of "
        "storage). Two nested integer aggregates over the components "
        "frame; exchanges shrink docs -> clusters -> O(distinct sizes) "
        "rows, the graph_degree_distribution profile."
    ),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# ---------------------------------------------- SymSpell variant pairs


@register(
    "dedup_symspell_variants",
    oracle="""
WITH vocab AS (
    SELECT tok, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        UNION ALL
        SELECT unnest(string_split(p_name, ' ')) AS tok FROM part
    )
    GROUP BY tok
),
keys AS (
    SELECT tok, tok AS key FROM vocab
    UNION
    SELECT tok, substr(tok, 1, i - 1) || substr(tok, i + 1, 1000) AS key
    FROM vocab, unnest(generate_series(1, length(tok))) u(i)
),
cand AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b
    FROM keys a JOIN keys b ON a.key = b.key AND a.tok < b.tok
    GROUP BY 1, 2
)
SELECT c.tok_a, c.tok_b,
       CAST(va.n AS BIGINT) AS n_a,
       CAST(vb.n AS BIGINT) AS n_b,
       CAST(levenshtein(c.tok_a, c.tok_b) AS BIGINT) AS dist
FROM cand c
JOIN vocab va ON va.tok = c.tok_a
JOIN vocab vb ON vb.tok = c.tok_b
WHERE levenshtein(c.tok_a, c.tok_b) <= 1
""",
    doc=(
        "SymSpell spelling-variant pairs (Garbe's symmetric-delete "
        "construction): every vocabulary token mints its deletion "
        "neighborhood — itself plus each single-character deletion — and "
        "two tokens at Levenshtein distance <= 1 PROVABLY share a key "
        "(substitution: both delete position i; insertion/deletion: the "
        "longer one's deletion IS the shorter). Candidates come from the "
        "key equi-join (the LSH shape: generate -> bucket-join -> exact "
        "verify), the distance-2 false positives the keys admit are "
        "killed by an exact levenshtein(a,b) <= 1 check — native in BOTH "
        "engines, so the whole operator is oracle-exact. Everything is "
        "VOCABULARY-bounded, never corpus-bounded: at 100 TB the token "
        "stream aggregates once and ~length-many 12-char keys per "
        "distinct token drive the join — the typo/variant clustering a "
        "corpus normalizer consumes (fold 'tabel' into 'table' before "
        "counting, dedup near-identical spellings). Runs over the lake's "
        "combined text vocabulary (documents tokens + catalog part-name "
        "words), where real variant pairs exist (cold/old, red/rod, "
        "row/rod); the synthetic unit corpus in tests/test_symspell.py "
        "pins the construction against brute-force levenshtein truth."
    ),
)
def dedup_symspell_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    part = load_table(spark, sf_dir, "part")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .unionByName(part.select(F.explode(F.split("p_name", " ")).alias("tok")))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dels = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.concat(
            F.substring(F.col("tok"), 1, 1000).substr(F.lit(1), i - 1),
            F.col("tok").substr(i + 1, F.lit(1000)),
        ),
    )
    keys = (
        vocab.select(
            "tok",
            F.explode(
                F.array_distinct(F.concat(F.array(F.col("tok")), dels))
            ).alias("key"),
        )
        .distinct()
    )
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), "key")
        .where(F.col("a.tok") < F.col("b.tok"))
        .select(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .distinct()
    )
    return (
        cand.join(vocab.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a")), "tok_a")
        .join(vocab.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b")), "tok_b")
        .where(F.levenshtein("tok_a", "tok_b") <= 1)
        .select(
            "tok_a",
            "tok_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.levenshtein("tok_a", "tok_b").cast("long").alias("dist"),
        )
    )


# ------------------------------------------------ KMV bottom-k sketch

#: bottom-k sketch size: the k smallest hash values summarize a distinct
#: set; (k-1)/u_k estimates the cardinality and the union sketch's
#: membership votes estimate jaccard/intersection (Bar-Yossef et al. '02,
#: the theta-sketch ancestor). 64 hashes = 512 B of mergeable state
KMV_K = 64
#: production sketch size (VERDICT r5 item 2): bottom-1024 hashes = 8 KB
#: of mergeable state, relative cardinality error ~1/sqrt(k) ~ 3% — the
#: geometry a 1e9-distinct-key crawl-overlap question wants. The plan is
#: k-independent (TakeOrdered(k) + O(k) arithmetic), so the wide sketch
#: costs the same corpus pass as the k=64 demo
KMV_K_PROD = 1024

#: hash32's range — the [0, 1) uniform scale the KMV estimator divides by
_KMV_SPAN = 2**32


def _kmv_oracle(k: int) -> str:
    from ..functions.hashing import hash32_sql

    K, SPAN = k, _KMV_SPAN
    return f"""
WITH sh AS (
    SELECT doc_id % 2 AS half, unnest({_SHINGLES_SQL}) AS w FROM documents
),
hv AS (SELECT DISTINCT half, {hash32_sql('w')} AS hv FROM sh),
ka AS (SELECT hv FROM hv WHERE half = 0 ORDER BY hv LIMIT {K}),
kb AS (SELECT hv FROM hv WHERE half = 1 ORDER BY hv LIMIT {K}),
u AS (SELECT DISTINCT hv FROM hv),
ku AS (SELECT hv FROM u ORDER BY hv LIMIT {K}),
nh AS (SELECT hv, COUNT(*) AS nh FROM hv GROUP BY hv),
sk AS (
    SELECT (SELECT COUNT(*) FROM ka) AS na,
           (SELECT greatest(MAX(hv), 1) FROM ka) AS ua,
           (SELECT COUNT(*) FROM kb) AS nb,
           (SELECT greatest(MAX(hv), 1) FROM kb) AS ub,
           (SELECT COUNT(*) FROM ku) AS nu,
           (SELECT greatest(MAX(hv), 1) FROM ku) AS uu,
           (SELECT COUNT(*) FROM ku k JOIN nh b ON b.hv = k.hv AND b.nh = 2) AS kboth,
           (SELECT COUNT(*) FROM hv WHERE half = 0) AS d_a_exact,
           (SELECT COUNT(*) FROM hv WHERE half = 1) AS d_b_exact,
           (SELECT COUNT(*) FROM u) AS d_u_exact,
           (SELECT COUNT(*) FROM nh WHERE nh = 2) AS inter_exact
),
est AS (
    SELECT *,
           CASE WHEN na < {K} THEN na
                ELSE CAST(floor(CAST({K - 1} AS DOUBLE) * {SPAN} / ua) AS BIGINT) END AS d_a_est,
           CASE WHEN nb < {K} THEN nb
                ELSE CAST(floor(CAST({K - 1} AS DOUBLE) * {SPAN} / ub) AS BIGINT) END AS d_b_est,
           CASE WHEN nu < {K} THEN nu
                ELSE CAST(floor(CAST({K - 1} AS DOUBLE) * {SPAN} / uu) AS BIGINT) END AS d_u_est
    FROM sk
)
SELECT CAST({K} AS BIGINT) AS k,
       CAST(d_a_exact AS BIGINT) AS d_a_exact,
       CAST(d_a_est AS BIGINT) AS d_a_est,
       CAST(d_b_exact AS BIGINT) AS d_b_exact,
       CAST(d_b_est AS BIGINT) AS d_b_est,
       CAST(d_u_exact AS BIGINT) AS d_u_exact,
       CAST(d_u_est AS BIGINT) AS d_u_est,
       CAST(inter_exact AS BIGINT) AS inter_exact,
       CAST(CASE WHEN nu < {K} THEN kboth
                 ELSE CAST(floor(CAST(kboth * d_u_est AS DOUBLE) / {K}) AS BIGINT) END AS BIGINT) AS inter_est,
       CAST(floor(CAST(inter_exact * 1000000 AS DOUBLE) / d_u_exact) AS BIGINT) AS jaccard_ppm_exact,
       CAST(floor(CAST(kboth * 1000000 AS DOUBLE) / nu) AS BIGINT) AS jaccard_ppm_est
FROM est
"""


def _kmv_hv(keyed: DataFrame, key: str) -> DataFrame:
    """(key, hv): the per-key DISTINCT shingle-hash set every KMV query
    derives its sketches from, pinned once (optimization r14). The
    shingle stream is a positions explode + top-level concat (the
    dedup_span_spectrum codegen rewrite — per-doc array_distinct is
    dropped because the global (key, hv) distinct below subsumes it),
    and the localCheckpoint matters because the sketch queries consume
    hv four-plus times (bottom-k's, exact counts, the intersection
    self-join): without the pin each consumer re-ran the corpus scan +
    shingle + distinct chain (measured ~5.0 -> ~2.4 s on the source
    matrix). In production these per-source sketch inputs maintain
    incrementally at ingest; the one-materialization shape is the same."""
    from ..functions.hashing import hash32

    toks = F.col("toks")
    pos = (
        keyed.where(F.size(toks) >= 3)
        .select(
            key, "toks", F.explode(F.sequence(F.lit(1), F.size(toks) - 2)).alias("i")
        )
        .select(key, F.expr("concat_ws(' ', toks[i-1], toks[i], toks[i+1])").alias("w"))
    )
    short = keyed.where(F.size(toks) < 3).select(key, F.col("text").alias("w"))
    sh = pos.unionByName(short)
    return (
        sh.select(key, hash32(F.col("w")).alias("hv")).distinct().localCheckpoint()
    )


def kmv_overlap_sketch(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """k-parameterized KMV overlap sketch (shared by the demo-geometry
    and production-geometry registrations below) — same one-pass plan at
    any k: TakeOrdered(k) bottom-k's, O(k) estimate arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    hv = _kmv_hv(
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            "text",
            F.split("text", " ").alias("toks"),
        ),
        "half",
    )

    def bottomk(frame):
        return frame.orderBy("hv").limit(k)

    ka = bottomk(hv.where(F.col("half") == 0).select("hv"))
    kb = bottomk(hv.where(F.col("half") == 1).select("hv"))
    u = hv.select("hv").distinct()
    ku = bottomk(u)
    nh = hv.groupBy("hv").agg(F.count(F.lit(1)).alias("nh"))

    def stat(frame, n_name, u_name):
        return frame.agg(
            F.count(F.lit(1)).alias(n_name), F.greatest(F.max("hv"), F.lit(1)).alias(u_name)
        )

    kboth = (
        ku.join(nh, "hv").where(F.col("nh") == 2).agg(F.count(F.lit(1)).alias("kboth"))
    )
    ex_halves = (
        hv.groupBy("half")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("d"))).alias("d_a_exact"),
            F.max(F.when(F.col("half") == 1, F.col("d"))).alias("d_b_exact"),
        )
    )
    ex_u = u.agg(F.count(F.lit(1)).alias("d_u_exact"))
    ex_inter = nh.where(F.col("nh") == 2).agg(F.count(F.lit(1)).alias("inter_exact"))
    # every side below is a 1-row aggregate — the reviewed scalar-broadcast form
    sk = (
        stat(ka, "na", "ua")
        .crossJoin(F.broadcast(stat(kb, "nb", "ub")))
        .crossJoin(F.broadcast(stat(ku, "nu", "uu")))
        .crossJoin(F.broadcast(kboth))
        .crossJoin(F.broadcast(ex_halves))
        .crossJoin(F.broadcast(ex_u))
        .crossJoin(F.broadcast(ex_inter))
    )

    def est(n_col, u_col):
        return F.when(F.col(n_col) < k, F.col(n_col)).otherwise(
            F.floor(
                F.lit(float(k - 1)) * F.lit(_KMV_SPAN) / F.col(u_col)
            ).cast("long")
        )

    out = sk.select(
        F.lit(k).cast("long").alias("k"),
        F.col("d_a_exact").cast("long").alias("d_a_exact"),
        est("na", "ua").cast("long").alias("d_a_est"),
        F.col("d_b_exact").cast("long").alias("d_b_exact"),
        est("nb", "ub").cast("long").alias("d_b_est"),
        F.col("d_u_exact").cast("long").alias("d_u_exact"),
        est("nu", "uu").cast("long").alias("d_u_est"),
        F.col("inter_exact").cast("long").alias("inter_exact"),
        F.col("kboth").cast("long").alias("kboth"),
        "nu",
    )
    inter_est = F.when(F.col("nu") < k, F.col("kboth")).otherwise(
        F.floor((F.col("kboth") * F.col("d_u_est")).cast("double") / F.lit(k)).cast(
            "long"
        )
    )
    return out.select(
        "k",
        "d_a_exact",
        "d_a_est",
        "d_b_exact",
        "d_b_est",
        "d_u_exact",
        "d_u_est",
        "inter_exact",
        inter_est.cast("long").alias("inter_est"),
        F.floor((F.col("inter_exact") * 1000000).cast("double") / F.col("d_u_exact"))
        .cast("long")
        .alias("jaccard_ppm_exact"),
        F.floor((F.col("kboth") * 1000000).cast("double") / F.col("nu"))
        .cast("long")
        .alias("jaccard_ppm_est"),
    )


@register(
    "dedup_kmv_overlap_sketch",
    oracle=_kmv_oracle(KMV_K),
    doc=(
        "KMV (bottom-k) distinct-overlap sketch between the two corpus "
        f"halves (doc_id parity, the token-drift slice convention): each "
        f"half's distinct shingle-hash set collapses to its {KMV_K} "
        "smallest 32-bit hashes (a TakeOrdered, never a global sort), "
        "cardinality estimates come from (k-1)/u_k, and the UNION "
        "sketch's members vote on two-half membership to estimate "
        "jaccard and intersection — reported side by side with the exact "
        "values and nothing asserted away: the error IS the artifact. "
        "The sketch is 512 B of mergeable state (bottom-k of a union = "
        "bottom-k of bottom-k's), the portable md5-derived hash makes "
        "every estimate bit-exact across engines, and at 100 TB this is "
        "how you answer 'how much does the new crawl overlap the corpus' "
        "without a distinct-join: per-partition bottom-k's merge on the "
        "driver in O(k). Sub-k sets short-circuit to their exact size "
        "(the sketch holds the whole set)."
    ),
)
def dedup_kmv_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmv_overlap_sketch(spark, sf_dir, KMV_K)


@register(
    "dedup_kmv_overlap_k1024",
    oracle=_kmv_oracle(KMV_K_PROD),
    doc=(
        "Production-geometry KMV (VERDICT r5 item 2): the SAME one-pass "
        f"bottom-k overlap sketch at k={KMV_K_PROD} — 8 KB of mergeable "
        "state, ~3% relative cardinality error (1/sqrt(k)), the size a "
        "1e9-distinct-key crawl-overlap question wants. k changes only "
        "the TakeOrdered limit and the O(k) estimate arithmetic, not the "
        "corpus pass, and every estimate stays bit-exact against the "
        "oracle; tests/test_sketches.py pins the wide estimates at least "
        "as close to exact as the k=64 demo's."
    ),
)
def dedup_kmv_overlap_k1024(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmv_overlap_sketch(spark, sf_dir, KMV_K_PROD)


# --------------------------------------------- bloom-filter prefilter

#: bloom geometry: BLOOM_M bits, BLOOM_K universal hashes per key.
#: At n keys the false-positive rate is (1 - e^(-K*n/M))^K — sized here
#: so the corpus slice loads the filter realistically (~0.4) and a few
#: false positives can actually occur and be ACCOUNTED, not defined away
BLOOM_M = 4096
BLOOM_K = 4


def _bloom_pos_sql(base_expr: str, j: int) -> str:
    return f"(({affine_hash_sql(base_expr, j)}) % {BLOOM_M})"


def bloom_positions(base: F.Column) -> F.Column:
    """The BLOOM_K (j, pos) bit structs of one key: the positions a corpus
    key sets and a probe key tests (batch operator and streaming twin)."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), (affine_hash(base, j) % F.lit(BLOOM_M)).alias("pos")
            )
            for j in range(BLOOM_K)
        ]
    )


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id,
           doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM} AS in_batch,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ck
    FROM documents
),
based AS (
    SELECT doc_id, in_batch, ck,
           CAST('0x' || substr(ck, 1, 8) AS BIGINT) AS base
    FROM keyed
),
filter_bits AS (
    SELECT DISTINCT j, pos FROM (
        {" UNION ALL ".join(f"SELECT {j} AS j, {_bloom_pos_sql('base', j)} AS pos FROM based WHERE NOT in_batch" for j in range(BLOOM_K))}
    )
),
probes AS (
    {" UNION ALL ".join(f"SELECT doc_id, ck, {j} AS j, {_bloom_pos_sql('base', j)} AS pos FROM based WHERE in_batch" for j in range(BLOOM_K))}
),
hits AS (
    SELECT p.doc_id, COUNT(*) AS n_set
    FROM probes p JOIN filter_bits f ON f.j = p.j AND f.pos = p.pos
    GROUP BY p.doc_id
),
corpus_keys AS (SELECT DISTINCT ck FROM based WHERE NOT in_batch)
SELECT b.doc_id,
       COALESCE(h.n_set, 0) = {BLOOM_K} AS bloom_maybe,
       (c.ck IS NOT NULL) AS exact_dup,
       (COALESCE(h.n_set, 0) = {BLOOM_K} AND c.ck IS NULL) AS false_positive
FROM based b
LEFT JOIN hits h ON h.doc_id = b.doc_id
LEFT JOIN corpus_keys c ON c.ck = b.ck
WHERE b.in_batch
""",
    doc=(
        "Bloom-filter prefilter for incremental ingest dedup — the "
        "explicit runtime-filter pattern (what Spark's own bloom runtime "
        f"filters and Delta deletion-vector checks do): the corpus "
        f"slice's canonical content hashes set {BLOOM_K} bits each in a "
        f"{BLOOM_M}-bit filter (stored as distinct set-bit positions, "
        "~KB broadcast), every batch doc probes its bits, and only "
        "'maybe' docs need the exact membership check — at 100 TB the "
        "filter prunes the anti-join's probe side before any shuffle, "
        "and a 'definitely new' verdict costs zero corpus I/O. The "
        "bloom guarantee is one-sided: every exact dup IS flagged maybe "
        "(no false negatives, pinned in tests/test_bloom.py), and the "
        "false positives the bit budget admits are reported per doc, "
        "not asserted away. The portable md5-derived hash family makes "
        "bit positions — and therefore every verdict — oracle-exact."
    ),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    based = docs.select(
        "doc_id",
        ((F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM).alias("in_batch"),
        exact_dup_key().alias("ck"),
    ).withColumn("base", F.conv(F.substring("ck", 1, 8), 16, 10).cast("long"))
    pos_structs = bloom_positions(F.col("base"))
    filter_bits = (
        based.where(~F.col("in_batch"))
        .select(F.explode(pos_structs).alias("r"))
        .select("r.j", "r.pos")
        .distinct()
    )
    probes = (
        based.where(F.col("in_batch"))
        .select("doc_id", F.explode(pos_structs).alias("r"))
        .select("doc_id", "r.j", "r.pos")
    )
    hits = (
        probes.join(F.broadcast(filter_bits), ["j", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    corpus_keys = based.where(~F.col("in_batch")).select("ck").distinct()
    batch = based.where(F.col("in_batch")).select("doc_id", "ck")
    exact = batch.join(
        corpus_keys.withColumn("present", F.lit(True)), "ck", "left"
    ).select("doc_id", F.coalesce("present", F.lit(False)).alias("exact_dup"))
    maybe = F.coalesce(F.col("n_set"), F.lit(0)) == BLOOM_K
    return (
        batch.join(hits, "doc_id", "left")
        .join(exact, "doc_id")
        .select(
            "doc_id",
            maybe.alias("bloom_maybe"),
            "exact_dup",
            (maybe & ~F.col("exact_dup")).alias("false_positive"),
        )
    )


#: production bloom geometry (VERDICT r5 item 2) for the Spark-native
#: filter: sized for ~1e6 corpus keys at 2^23 bits (1 MiB, ~1% fp) — the
#: engine scales the same construction to 1e9 keys at a few GiB, a
#: broadcast the row-exploded 4096-bit demo cannot reach
NATIVE_BLOOM_ITEMS = 1_000_000
NATIVE_BLOOM_BITS = 1 << 23


@register(
    "dedup_bloom_native",
    # The filter bytes are engine-specific (Spark's BloomFilterImpl
    # murmur3 double-hashing is not portably re-derivable in DuckDB SQL),
    # so the registered output carries only oracle-expressible values:
    # the exact membership verdict, plus the bloom's one-sided guarantee
    # (exact_dup -> bloom_maybe, i.e. zero false negatives) as a boolean
    # whose expected value is a LITERAL in the oracle. The raw bloom_maybe
    # bits stay pinned bit-for-bit against the JVM filter's own
    # mightContainLong in tests/test_bloom.py.
    oracle=f"""
WITH keyed AS (
    SELECT doc_id,
           doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM} AS in_batch,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ck
    FROM documents
),
corpus_keys AS (SELECT DISTINCT ck FROM keyed WHERE NOT in_batch)
SELECT k.doc_id,
       (c.ck IS NOT NULL) AS exact_dup,
       TRUE AS guarantee_ok
FROM keyed k LEFT JOIN corpus_keys c ON c.ck = k.ck
WHERE k.in_batch
""",
    doc=(
        "Spark-native bloom prefilter twin of dedup_bloom_prefilter "
        "(VERDICT r5 item 2): the corpus slice's canonical content "
        "hashes build ONE JVM BloomFilterImpl via the engine's own "
        "DataFrameStatFunctions.bloomFilter (tree-aggregated per-"
        f"partition filters, {NATIVE_BLOOM_BITS} bits sized for "
        f"{NATIVE_BLOOM_ITEMS} keys — the construction behind Spark's "
        "runtime bloom join filters; bloom_filter_agg/might_contain are "
        "internal-registry-only in this build, verified unresolvable), "
        "each batch doc probes the broadcast filter blob through an "
        "Arrow-batched numpy re-derivation of mightContainLong "
        "(functions/bloom_native.py, pinned bit-for-bit against the JVM "
        "in tests/test_bloom.py), and only 'maybe' docs would pay the "
        "exact corpus join. This is the 1e9-key production path the "
        "row-exploded 4096-bit demo deliberately is not: the filter "
        "stays a single broadcast blob (a few GiB at 1e9 keys) instead "
        "of a distinct (j,pos) row set. The registered output is the "
        "exact verdict plus the one-sided guarantee boolean "
        "(NOT exact_dup OR bloom_maybe — TRUE for every doc by the bloom "
        "property, so the oracle emits it as a literal); raw bloom bits "
        "and false-positive accounting are pinned in tests/test_bloom.py "
        "at sf0.1."
    ),
)
def dedup_bloom_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_native_frame(spark, sf_dir).select(
        "doc_id",
        "exact_dup",
        # one-sided bloom guarantee: a true dup is NEVER bloom-negative
        (~F.col("exact_dup") | F.col("bloom_maybe")).alias("guarantee_ok"),
    )


def bloom_native_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bloom_maybe, exact_dup, false_positive) — the raw
    per-doc verdict frame; the registered query projects the
    oracle-expressible subset (tests pin the raw bits at sf0.1)."""
    from ..functions.bloom_native import build_bloom_filter_jvm, with_might_contain

    docs = load_table(spark, sf_dir, "documents")
    based = docs.select(
        "doc_id",
        ((F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM).alias("in_batch"),
        exact_dup_key().alias("ck"),
    ).withColumn("h", F.xxhash64("ck"))
    corpus = based.where(~F.col("in_batch"))
    flt = build_bloom_filter_jvm(
        corpus, "h", NATIVE_BLOOM_ITEMS, NATIVE_BLOOM_BITS
    )
    corpus_keys = corpus.select("ck").distinct()
    batch = based.where(F.col("in_batch")).select("doc_id", "ck", "h")
    probed = with_might_contain(spark, batch, "h", flt).drop("h")
    # the exact check joins ALL batch docs (the accounting needs true
    # exact_dup even for bloom-negative docs); the production win the doc
    # string describes — probing only 'maybe' docs — would add
    # .where("bloom_maybe") here. Corpus keys shuffle-join: that side is
    # the whole corpus and must NOT be broadcast.
    exact_dup = F.coalesce("present", F.lit(False))
    return (
        probed.join(corpus_keys.withColumn("present", F.lit(True)), "ck", "left")
        .select(
            "doc_id",
            "bloom_maybe",
            exact_dup.alias("exact_dup"),
            (F.col("bloom_maybe") & ~exact_dup).alias("false_positive"),
        )
    )


def _kmv_matrix_oracle() -> str:
    from ..functions.hashing import hash32_sql

    K, SPAN = KMV_K, _KMV_SPAN
    est = lambda n, u: (  # noqa: E731 — shared estimate grammar
        f"CASE WHEN {n} < {K} THEN {n} "
        f"ELSE CAST(floor(CAST({K - 1} AS DOUBLE) * {SPAN} / greatest({u}, 1)) AS BIGINT) END"
    )
    return f"""
WITH sh AS (
    SELECT source, unnest({_SHINGLES_SQL}) AS w FROM documents
),
hv AS (SELECT DISTINCT source, {hash32_sql('w')} AS hv FROM sh),
ks AS (
    SELECT source, hv FROM (
        SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rk
        FROM hv
    ) WHERE rk <= {K}
),
kstat AS (SELECT source, COUNT(*) AS n_k, MAX(hv) AS u_k FROM ks GROUP BY source),
dex AS (SELECT source, COUNT(*) AS d FROM hv GROUP BY source),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM dex a JOIN dex b ON a.source < b.source
),
merged_in AS (
    SELECT p.src_a, p.src_b, k.hv FROM pairs p JOIN ks k ON k.source = p.src_a
    UNION
    SELECT p.src_a, p.src_b, k.hv FROM pairs p JOIN ks k ON k.source = p.src_b
),
merged AS (
    SELECT src_a, src_b, hv FROM (
        SELECT src_a, src_b, hv,
               ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS rk
        FROM merged_in
    ) WHERE rk <= {K}
),
votes AS (
    SELECT m.src_a, m.src_b, COUNT(*) AS n_m, MAX(m.hv) AS u_m,
           SUM(CASE WHEN ka.hv IS NOT NULL AND kb.hv IS NOT NULL THEN 1 ELSE 0 END) AS kboth
    FROM merged m
    LEFT JOIN ks ka ON ka.source = m.src_a AND ka.hv = m.hv
    LEFT JOIN ks kb ON kb.source = m.src_b AND kb.hv = m.hv
    GROUP BY m.src_a, m.src_b
),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter_exact
    FROM hv a JOIN hv b ON a.hv = b.hv AND a.source < b.source
    GROUP BY 1, 2
)
SELECT v.src_a, v.src_b,
       CAST(da.d AS BIGINT) AS d_a_exact,
       CAST({est("sa.n_k", "sa.u_k")} AS BIGINT) AS d_a_est,
       CAST(db.d AS BIGINT) AS d_b_exact,
       CAST({est("sb.n_k", "sb.u_k")} AS BIGINT) AS d_b_est,
       CAST({est("v.n_m", "v.u_m")} AS BIGINT) AS d_u_est,
       CAST(COALESCE(i.inter_exact, 0) AS BIGINT) AS inter_exact,
       CAST(CASE WHEN v.n_m < {K} THEN v.kboth
                 ELSE CAST(floor(CAST(v.kboth * ({est("v.n_m", "v.u_m")}) AS DOUBLE) / {K}) AS BIGINT)
            END AS BIGINT) AS inter_est,
       CAST(floor(CAST(COALESCE(i.inter_exact, 0) * 1000000 AS DOUBLE)
                  / (da.d + db.d - COALESCE(i.inter_exact, 0))) AS BIGINT) AS jaccard_ppm_exact,
       CAST(floor(CAST(v.kboth * 1000000 AS DOUBLE) / v.n_m) AS BIGINT) AS jaccard_ppm_est
FROM votes v
JOIN kstat sa ON sa.source = v.src_a
JOIN kstat sb ON sb.source = v.src_b
JOIN dex da ON da.source = v.src_a
JOIN dex db ON db.source = v.src_b
LEFT JOIN inter i ON i.src_a = v.src_a AND i.src_b = v.src_b
"""


@register(
    "dedup_kmv_source_matrix",
    oracle=_kmv_matrix_oracle(),
    doc=(
        "Pairwise source-overlap matrix from MERGEABLE KMV sketches — the "
        "sketch-algebra payoff: each source's distinct shingle-hash set "
        f"collapses ONCE to its {KMV_K} smallest hashes (skew-safe "
        "two-level topk_per_key, never a per-source global sort), and "
        "every pair's union sketch + jaccard/intersection estimate "
        "derives from the two per-source sketches ALONE (bottom-k of a "
        "union = bottom-k of the union of bottom-k's; membership votes "
        "use only sketch members) — so the 190-pair matrix costs one "
        "corpus pass plus O(pairs x k) arithmetic. Exact values ride "
        "along for every pair, so the estimate error is visible per "
        "cell. At 100 TB this is the crawl-source overlap heat map: "
        "per-source sketches maintain incrementally at ingest and any "
        "pair's overlap answers from KB of state, no distinct-join."
    ),
)
def dedup_kmv_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.topk import topk_per_key

    K = KMV_K
    docs = load_table(spark, sf_dir, "documents")
    hv = _kmv_hv(
        docs.select("source", "text", F.split("text", " ").alias("toks")),
        "source",
    )
    ks = topk_per_key(
        hv, ["source"], [F.asc("hv")], K, tiebreak=F.col("hv")
    ).select("source", "hv")
    kstat = ks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_k"), F.max("hv").alias("u_k")
    )
    dex = hv.groupBy("source").agg(F.count(F.lit(1)).alias("d"))
    # source-pair grid: both sides are the distinct-source list (O(10s)
    # rows) — the BNLJ build side is explicitly the bounded broadcast
    pairs = dex.select(F.col("source").alias("src_a")).join(
        F.broadcast(dex.select(F.col("source").alias("src_b"))),
        F.col("src_a") < F.col("src_b"),
    )
    ka = ks.select(F.col("source").alias("src_a"), "hv")
    kb = ks.select(F.col("source").alias("src_b"), "hv")
    merged_in = (
        pairs.join(F.broadcast(ka), "src_a")
        .select("src_a", "src_b", "hv")
        .unionByName(pairs.join(F.broadcast(kb), "src_b").select("src_a", "src_b", "hv"))
        .distinct()
    )
    # bottom-k of the merged sketch members: a bounded (<= 2k values)
    # collect per pair, no window over the pair key
    merged = (
        merged_in.groupBy("src_a", "src_b")
        .agg(F.slice(F.sort_array(F.collect_set("hv")), 1, K).alias("mk"))
        .select("src_a", "src_b", F.explode("mk").alias("hv"))
    )
    votes = (
        merged.join(
            F.broadcast(ka.withColumn("in_a", F.lit(1))), ["src_a", "hv"], "left"
        )
        .join(F.broadcast(kb.withColumn("in_b", F.lit(1))), ["src_b", "hv"], "left")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_m"),
            F.max("hv").alias("u_m"),
            F.sum(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
            ).alias("kboth"),
        )
    )
    inter = (
        hv.select(F.col("source").alias("src_a"), "hv")
        .join(hv.select(F.col("source").alias("src_b"), "hv"), "hv")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )

    def est(n_col: str, u_col: str) -> F.Column:
        return F.when(F.col(n_col) < K, F.col(n_col)).otherwise(
            F.floor(
                F.lit(float(K - 1)) * F.lit(_KMV_SPAN) / F.greatest(F.col(u_col), F.lit(1))
            ).cast("long")
        )

    sa = kstat.select(F.col("source").alias("src_a"), F.col("n_k").alias("na"), F.col("u_k").alias("ua"))
    sb = kstat.select(F.col("source").alias("src_b"), F.col("n_k").alias("nb"), F.col("u_k").alias("ub"))
    da = dex.select(F.col("source").alias("src_a"), F.col("d").alias("d_a_exact"))
    db = dex.select(F.col("source").alias("src_b"), F.col("d").alias("d_b_exact"))
    out = (
        votes.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .join(F.broadcast(da), "src_a")
        .join(F.broadcast(db), "src_b")
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("inter_exact", F.coalesce("inter_exact", F.lit(0)))
        .withColumn("d_u_est", est("n_m", "u_m").cast("long"))
    )
    inter_est = F.when(F.col("n_m") < K, F.col("kboth")).otherwise(
        F.floor((F.col("kboth") * F.col("d_u_est")).cast("double") / F.lit(K)).cast("long")
    )
    return out.select(
        "src_a",
        "src_b",
        F.col("d_a_exact").cast("long").alias("d_a_exact"),
        est("na", "ua").cast("long").alias("d_a_est"),
        F.col("d_b_exact").cast("long").alias("d_b_exact"),
        est("nb", "ub").cast("long").alias("d_b_est"),
        "d_u_est",
        F.col("inter_exact").cast("long").alias("inter_exact"),
        inter_est.cast("long").alias("inter_est"),
        F.floor(
            (F.col("inter_exact") * 1000000).cast("double")
            / (F.col("d_a_exact") + F.col("d_b_exact") - F.col("inter_exact"))
        )
        .cast("long")
        .alias("jaccard_ppm_exact"),
        F.floor((F.col("kboth") * 1000000).cast("double") / F.col("n_m"))
        .cast("long")
        .alias("jaccard_ppm_est"),
    )


# --------------------------------------------- chunk-level keep-first dedup

#: non-overlapping chunk width in tokens — the "paragraph" stand-in for
#: this corpus (single-line docs, no newline boundaries); power of two so
#: every position->chunk division is exact in double arithmetic
DEDUP_CHUNK_W = 16

#: chunk-position packing for the portable lexicographic (doc_id,
#: chunk_idx) argmin: a FIXED-WIDTH sortable string (19-digit doc_id ||
#: 7-digit chunk idx — the unigram sortable-key grammar). The previous
#: BIGINT packing (doc_id * 2^16 + idx) overflowed int64 for doc_ids
#: past 2^47 — a real sparse-id crawl shape, found by
#: tests/test_hostile_corpus.py's 10^15 id; string min() is identical
#: byte order in both engines and caps instead at 10^19 ids x 10^7
#: chunks (160M tokens) per doc.
_CHUNK_DOC_PAD = 19
_CHUNK_IDX_PAD = 7


def _chunk_occ_sql(where: str = "TRUE") -> str:
    """Chunk-occurrence rows (doc_id, cidx, ch, pos) over a CTE ``t``
    holding (doc_id, toks) — the single definition both chunk-dedup
    oracles derive from."""
    return f"""
    SELECT doc_id, i AS cidx,
           md5(array_to_string(toks[(i * {DEDUP_CHUNK_W} + 1):least((i + 1) * {DEDUP_CHUNK_W}, len(toks))], ' ')) AS ch,
           lpad(CAST(doc_id AS VARCHAR), {_CHUNK_DOC_PAD}, '0')
               || lpad(CAST(i AS VARCHAR), {_CHUNK_IDX_PAD}, '0') AS pos
    FROM t, unnest(generate_series(0, (len(toks) - 1) // {DEDUP_CHUNK_W})) u(i)
    WHERE {where}"""


def _chunk_occurrences(docs: DataFrame) -> DataFrame:
    """Chunk-occurrence frame (doc_id, cidx, ch, pos) of a (doc_id, toks)
    frame — the Spark twin of _chunk_occ_sql, shared by the full and
    incremental chunk-dedup paths."""
    W = DEDUP_CHUNK_W
    toks = F.col("toks")
    # chunk-index explode + top-level slice/join/md5 (optimization r14,
    # the dedup_span_spectrum rewrite): the struct-building transform()
    # lambda ran interpreted per chunk; hashes are bit-identical
    return (
        docs.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor((F.size(toks) - 1) / W).cast("int")
                )
            ).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("long").alias("cidx"),
            F.expr(
                f"md5(array_join(slice(toks, ci * {W} + 1,"
                f" least({W}, size(toks) - ci * {W})), ' '))"
            ).alias("ch"),
            F.concat(
                F.lpad(F.col("doc_id").cast("string"), _CHUNK_DOC_PAD, "0"),
                F.lpad(F.col("ci").cast("string"), _CHUNK_IDX_PAD, "0"),
            ).alias("pos"),
        )
    )


def _rebuild_kept_text(docs_with_kept: DataFrame) -> DataFrame:
    """Doc-local rebuild: (doc_id, toks, kept_idx, n_chunks) -> the
    chunk-dedup verdict row. kept_idx holds the SORTED chunk indexes
    that survive; tokens of dropped chunks are filtered out in one array
    projection and never shuffle."""
    W = DEDUP_CHUNK_W
    return docs_with_kept.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.size("kept_idx").cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.filter(
                    F.col("toks"),
                    lambda x, i: F.array_contains(
                        F.col("kept_idx"), F.floor(i / W).cast("long")
                    ),
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


@register(
    "dedup_chunk_keep_first",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
occ AS ({_chunk_occ_sql()}),
win AS (
    SELECT ch, MIN(pos) AS win_pos, COUNT(*) AS n_occ FROM occ GROUP BY ch
),
kept AS (
    SELECT o.doc_id, list_sort(list(o.cidx) FILTER (o.pos = w.win_pos)) AS kept_idx,
           COUNT(*) AS n_chunks
    FROM occ o JOIN win w ON o.ch = w.ch
    GROUP BY o.doc_id
)
SELECT t.doc_id,
       CAST(k.n_chunks AS BIGINT) AS n_chunks,
       CAST(coalesce(len(k.kept_idx), 0) AS BIGINT) AS n_kept,
       coalesce(list_aggregate(
           list_filter(t.toks, (x, i) -> list_contains(
               coalesce(k.kept_idx, CAST([] AS BIGINT[])), (i - 1) // {DEDUP_CHUNK_W})),
           'string_agg', ' '), '') AS kept_text
FROM t JOIN kept k ON t.doc_id = k.doc_id
""",
    doc=(
        f"Chunk-level KEEP-FIRST dedup (the C4/Dolma paragraph-dedup "
        f"semantics, with non-overlapping {DEDUP_CHUNK_W}-token chunks "
        "standing in for paragraphs — this corpus has no newline "
        "boundaries): every distinct chunk keeps exactly its first "
        "occurrence in (doc_id, chunk_idx) order and later copies are "
        "scrubbed, unlike dedup_span_scrub which drops ALL copies of a "
        "cross-doc span. The global argmin is a two-phase "
        "groupBy(chunk-md5).min over a single fixed-width sortable "
        "position string "
        "(never a window over a content key, so a boilerplate chunk "
        "shared by millions of docs stays a map-side partial min); "
        "shuffles carry 16-byte md5 keys and 26-char position keys, "
        "never "
        "text — the kept text is rebuilt doc-locally from the kept "
        "chunk-index list in one array projection."
    ),
)
def dedup_chunk_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    occ = _chunk_occurrences(docs)
    win = occ.groupBy("ch").agg(F.min("pos").alias("win_pos"))
    kept = (
        occ.join(win, "ch")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("pos") == F.col("win_pos"), F.col("cidx")))
            ).alias("kept_idx"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
    )
    return _rebuild_kept_text(docs.join(kept, "doc_id"))


@register(
    "dedup_chunk_incremental",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bocc AS ({_chunk_occ_sql(f"doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}")}),
cset AS (
    SELECT DISTINCT ch
    FROM ({_chunk_occ_sql(f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}")}) c
),
flag AS (
    SELECT b.doc_id, b.cidx, (s.ch IS NOT NULL) AS seen
    FROM bocc b LEFT JOIN cset s ON b.ch = s.ch
),
k AS (
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           SUM(CAST(seen AS BIGINT)) AS n_seen,
           list_sort(list(cidx) FILTER (NOT seen)) AS kept_idx
    FROM flag GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(k.n_chunks AS BIGINT) AS n_chunks,
       CAST(coalesce(len(k.kept_idx), 0) AS BIGINT) AS n_kept,
       CAST(floor(CAST(k.n_seen * 1000000 AS DOUBLE) / k.n_chunks) AS BIGINT) AS seen_frac_ppm,
       coalesce(list_aggregate(
           list_filter(t.toks, (x, i) -> list_contains(
               coalesce(k.kept_idx, CAST([] AS BIGINT[])), (i - 1) // {DEDUP_CHUNK_W})),
           'string_agg', ' '), '') AS kept_text
FROM t JOIN k ON t.doc_id = k.doc_id
""",
    doc=(
        "Incremental chunk-level dedup — the daily-ingest twin of "
        "dedup_chunk_keep_first (same batch-slice convention as "
        "dedup_incremental): the NEW batch's chunks probe the corpus's "
        "distinct-chunk set and only never-seen chunks survive into the "
        "batch doc's kept text, with the seen fraction reported in ppm "
        "(the 'how stale is this crawl' number). Probe volume scales "
        "with |batch| chunks — the corpus side is the collapsed md5 set "
        "a production pipeline persists as its chunk index, and the "
        "probe join carries 16-byte keys only; the corpus text is never "
        "re-paired with itself. Intra-batch duplicate chunks are "
        "deliberately out of scope (dedup_chunk_keep_first's job on the "
        "batch alone), matching dedup_incremental's contract."
    ),
)
def dedup_chunk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    in_batch = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_REM
    cset = build_corpus_chunk_index(docs.where(~in_batch))
    return chunk_incremental_verdicts(docs.where(in_batch), cset)


def build_corpus_chunk_index(corpus: DataFrame) -> DataFrame:
    """The persisted chunk index of an already-ingested corpus: its
    distinct chunk md5 set — the only corpus state the incremental path
    (and its streaming twin) ever probes."""
    return (
        _chunk_occurrences(
            corpus.select("doc_id", F.split("text", " ").alias("toks"))
        )
        .select("ch")
        .distinct()
    )


def chunk_incremental_verdicts(batch_docs: DataFrame, cset: DataFrame) -> DataFrame:
    """Verdict a batch of raw documents against a corpus chunk index:
    per batch doc, its chunk count, surviving (never-seen) chunks, the
    rebuilt kept text, and the seen fraction in ppm. Shared by
    dedup_chunk_incremental and the streaming twin."""
    batch = batch_docs.select("doc_id", F.split("text", " ").alias("toks"))
    flag = (
        _chunk_occurrences(batch)
        .join(cset.withColumn("_hit", F.lit(True)), "ch", "left")
        .select("doc_id", "cidx", F.coalesce("_hit", F.lit(False)).alias("seen"))
    )
    k = flag.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("seen").cast("long")).alias("n_seen"),
        F.sort_array(
            F.collect_list(F.when(~F.col("seen"), F.col("cidx")))
        ).alias("kept_idx"),
    )
    # n_seen == n_chunks - n_kept (kept is exactly the unseen chunks)
    return _rebuild_kept_text(batch.join(k, "doc_id")).withColumn(
        "seen_frac_ppm",
        F.floor(
            ((F.col("n_chunks") - F.col("n_kept")) * 1000000).cast("double")
            / F.col("n_chunks")
        ).cast("long"),
    )


# ------------------------------------------------ winnowing fingerprints

#: winnowing parameters (Schleimer et al. 2003 "Winnowing: Local
#: Algorithms for Document Fingerprinting" — the MOSS selector): k-gram
#: size and window width. Any shared token run of length >= W + K - 1
#: is GUARANTEED to share a selected fingerprint.
WINNOW_K = 4
WINNOW_W = 4
#: fingerprints shared by more docs than this are boilerplate and are
#: dropped before pairing (the df-cap that keeps hot keys from exploding
#: the self-join — same policy as multimodal_frame_dedup)
WINNOW_DF_CAP = 32

#: (hash, position) packed into one BIGINT: h < 2^32, pos < 2^16 ->
#: h * 65536 + pos < 2^48, exact in both engines
_WINNOW_POS_SHIFT = 65536


def _winnow_sql() -> str:
    """CTE text: t(doc_id, toks) -> wf(doc_id, n_grams, fps) where fps is
    the distinct selected-fingerprint list (packed hash*2^16+pos) of the
    standard winnowing pass — per 1-based window start j, the RIGHTMOST
    minimum k-gram hash in the window. Window width adapts to
    least(W, n_grams) so short-but-hashable docs keep one fingerprint."""
    k, w, shift = WINNOW_K, WINNOW_W, _WINNOW_POS_SHIFT
    gram = f"CAST('0x' || substr(md5(array_to_string(toks[i:i + {k - 1}], ' ')), 1, 8) AS BIGINT)"
    return f"""
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(toks) - {k - 1}), i -> {gram}) AS grams
    FROM t
    WHERE len(toks) >= {k}
),
wf AS (
    SELECT doc_id, len(grams) AS n_grams,
           list_distinct(list_transform(
               generate_series(1, len(grams) - least({w}, len(grams)) + 1),
               j -> list_aggregate(grams[j:j + least({w}, len(grams)) - 1], 'min') * {shift}
                    + list_aggregate(
                        list_filter(
                            generate_series(j, j + least({w}, len(grams)) - 1),
                            p -> grams[p] = list_aggregate(grams[j:j + least({w}, len(grams)) - 1], 'min')),
                        'max')
           )) AS fps
    FROM g
)"""


def _winnow_selected(docs: DataFrame, scatter: int | None = None) -> DataFrame:
    """(doc_id, n_grams, fps) — the Spark twin of _winnow_sql over a
    (doc_id, toks) frame. One mapInArrow kernel per task does the whole
    selection (optimization r14, guide §4.2): the old shape hashed each
    k-gram and ran the slice/array_min/filter window selection inside
    transform() lambdas, which Spark evaluates interpreted (higher-order
    functions never enter whole-stage codegen) — measured ~2.8 s warm at
    sf0.1; the kernel memoizes hash32 per distinct gram per task and
    vectorizes the rightmost-minimum sweep in numpy (~0.4 s, identical
    rows). No shuffle happens until a caller aggregates the packed
    fingerprint ints; ``scatter`` (io.scan_scatter) redistributes a
    too-small-to-split local scan before the kernel."""
    k, w, shift = WINNOW_K, WINNOW_W, _WINNOW_POS_SHIFT
    from ..session import arrow_memo_cap

    memo_cap = arrow_memo_cap(docs.sparkSession)

    def gen(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        memo: dict = {}

        def h32(s: str) -> int:
            v = memo.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                if len(memo) < memo_cap:
                    memo[s] = v
            return v

        swv = np.lib.stride_tricks.sliding_window_view
        for batch in batches:
            ids = batch.column(0).to_pylist()
            toks_col = batch.column(1).to_pylist()
            od: list[int] = []
            on: list[int] = []
            ofps: list[list[int]] = []
            for did, toks in zip(ids, toks_col):
                n = len(toks)
                if n < k:
                    continue
                grams = np.fromiter(
                    (h32(" ".join(toks[i : i + k])) for i in range(n - k + 1)),
                    dtype=np.int64,
                    count=n - k + 1,
                )
                weff = min(w, grams.shape[0])
                wins = swv(grams, weff)
                wmin = wins.min(axis=1)
                # rightmost minimum: first argmin of the REVERSED window
                # is the last in the original (ties break right)
                ri = weff - 1 - wins[:, ::-1].argmin(axis=1)
                # positions are 1-based: window j0 (0-based) selects
                # global gram position j0 + ri + 1
                fps = wmin * shift + (
                    np.arange(wins.shape[0], dtype=np.int64) + ri + 1
                )
                od.append(did)
                on.append(int(grams.shape[0]))
                # first-occurrence order, matching array_distinct
                ofps.append(list(dict.fromkeys(fps.tolist())))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(od, pa.int64()),
                    pa.array(on, pa.int64()),
                    pa.array(ofps, pa.list_(pa.int64())),
                ],
                names=["doc_id", "n_grams", "fps"],
            )

    src = docs.where(F.size(F.col("toks")) >= k).select("doc_id", "toks")
    if scatter:
        src = src.repartition(scatter)
    return src.mapInArrow(
        gen, "doc_id long, n_grams long, fps array<long>"
    )


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
{_winnow_sql()}
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(fps) AS BIGINT) AS n_selected,
       CAST(floor(CAST(len(fps) * 1000000 AS DOUBLE)
                  / (n_grams - least({WINNOW_W}, n_grams) + 1)) AS BIGINT) AS density_ppm
FROM wf
""",
    doc=(
        "Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS "
        f"algorithm): {WINNOW_K}-gram hashes, rightmost-minimum selection "
        f"per {WINNOW_W}-wide window — any shared token run of >= "
        f"{WINNOW_W + WINNOW_K - 1} tokens is GUARANTEED to share a "
        "selected fingerprint, while only ~2/(w+1) of positions are "
        "stored. Per-doc report: gram count, distinct selected "
        "fingerprints, selection density in ppm. The whole selection is "
        "one array-native projection per doc (portable hash32 grams, "
        "packed hash*2^16+pos ints) — zero shuffle; this is the "
        "index-build half of dedup_winnowing_pairs."
    ),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    from ..io import scan_scatter

    sel = _winnow_selected(docs, scatter=scan_scatter(spark, sf_dir, "documents"))
    weff = F.least(F.lit(WINNOW_W), F.col("n_grams"))
    return sel.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_selected"),
        F.floor(
            (F.size("fps") * 1000000).cast("double")
            / (F.col("n_grams") - weff + 1)
        )
        .cast("long")
        .alias("density_ppm"),
    )


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
{_winnow_sql()},
fp AS MATERIALIZED (
    SELECT doc_id, (u.f // {_WINNOW_POS_SHIFT}) AS h
    FROM wf, unnest(fps) u(f)
    GROUP BY 1, 2
),
live AS MATERIALIZED (
    SELECT h FROM (SELECT h, COUNT(*) AS df FROM fp GROUP BY h)
    WHERE df BETWEEN 2 AND {WINNOW_DF_CAP}
),
nd AS (
    SELECT doc_id, COUNT(*) AS nf FROM fp JOIN live USING (h) GROUP BY doc_id
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
    FROM fp a JOIN live USING (h) JOIN fp b ON b.h = a.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps,
       CAST(floor(CAST(shared_fps * 1000000 AS DOUBLE)
                  / (na.nf + nb.nf - shared_fps)) AS BIGINT) AS jaccard_ppm
FROM shared
JOIN nd na ON na.doc_id = doc_a
JOIN nd nb ON nb.doc_id = doc_b
WHERE shared_fps >= 2
""",
    doc=(
        "Cross-document winnowing matches — the MOSS pair report: docs "
        "sharing >= 2 selected fingerprint HASHES (positions stripped: "
        "a moved copy still matches), with fingerprint-set jaccard in "
        "ppm. Fingerprints seen in more than "
        f"{WINNOW_DF_CAP} docs are boilerplate and dropped BEFORE the "
        "self-join (two-phase df count, the same hot-key cap as "
        "multimodal_frame_dedup), so a viral chunk can never explode a "
        "task; everything that shuffles is a 32-bit hash int. The "
        f">= {WINNOW_W + WINNOW_K - 1}-token guarantee makes a miss "
        "impossible for real overlaps of that length, unlike MinHash "
        "whose recall is probabilistic."
    ),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # materialize the per-doc fingerprint lists BEFORE exploding: explode
    # collapses projections, and without the barrier Catalyst inlines the
    # nested gram-hash lambdas at every reference site — measured 137s vs
    # 3s at sf0.01. This frame IS the fingerprint index production
    # persists, so the materialization is the real pipeline shape anyway.
    from ..io import scan_scatter

    fp = (
        _winnow_selected(docs, scatter=scan_scatter(spark, sf_dir, "documents"))
        .localCheckpoint()
        .select("doc_id", F.explode("fps").alias("f"))
        .select(
            "doc_id", F.floor(F.col("f") / _WINNOW_POS_SHIFT).cast("long").alias("h")
        )
        .distinct()
        .localCheckpoint()
    )
    live = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= WINNOW_DF_CAP))
        .select("h")
    )
    capped = fp.join(live, "h")
    nd = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    shared = (
        capped.alias("a")
        .join(
            capped.select(F.col("h").alias("h"), F.col("doc_id").alias("doc_b")).alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("doc_b")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= 2)
    )
    return (
        shared.join(nd.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na_f")), "doc_a")
        .join(nd.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb_f")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("shared_fps").cast("long").alias("shared_fps"),
            F.floor(
                (F.col("shared_fps") * 1000000).cast("double")
                / (F.col("na_f") + F.col("nb_f") - F.col("shared_fps"))
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ------------------------------------------------------- dedup funnel

#: a doc is "chunk-heavy" when at least half its chunks are cross-doc dups
FUNNEL_CHUNK_NUM = 2

from .quality import _qc_ctes as _qc_ctes_sql  # noqa: E402
from .quality import _qc_gate_ctes as _qc_gate_ctes_sql  # noqa: E402

_FUNNEL_SQL = f"""
WITH {_qc_ctes_sql()},
{_qc_gate_ctes_sql()},
s0 AS (SELECT doc_id, text FROM documents),
e AS (SELECT doc_id, text, md5(text) AS h FROM s0),
k1 AS (SELECT h, MIN(doc_id) AS keep_id FROM e GROUP BY h),
s1 AS (SELECT doc_id, text FROM e JOIN k1 USING (h) WHERE doc_id = keep_id),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM s1),
cocc AS ({_chunk_occ_sql()}),
dupch AS (
    SELECT ch FROM (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM cocc GROUP BY ch)
    WHERE nd >= 2
),
cstats AS (
    SELECT cocc.doc_id, COUNT(*) AS n_chunks,
           SUM(CASE WHEN d.ch IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
    FROM cocc LEFT JOIN dupch d ON d.ch = cocc.ch
    GROUP BY cocc.doc_id
),
s2 AS (
    SELECT s1.doc_id, s1.text FROM s1 JOIN cstats c ON c.doc_id = s1.doc_id
    WHERE {FUNNEL_CHUNK_NUM} * c.n_dup < c.n_chunks
),
sig AS ({_minhash_signature_sql(src="s2")}),
bands AS ({_BANDS_SQL}),
{_lsh_pair_ctes(pairs_name="cand")},
toks3 AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM s2
),
sizes3 AS (SELECT doc_id, COUNT(*) AS n FROM toks3 GROUP BY doc_id),
inter3 AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
    FROM cand p
    JOIN toks3 a ON a.doc_id = p.doc_a
    JOIN toks3 b ON b.doc_id = p.doc_b AND b.w = a.w
    GROUP BY 1, 2
),
drop3 AS (
    SELECT DISTINCT p.doc_b AS doc_id
    FROM cand p
    JOIN sizes3 sa ON sa.doc_id = p.doc_a
    JOIN sizes3 sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter3 i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    WHERE CAST(COALESCE(i.n_shared, 0) AS DOUBLE)
              / (sa.n + sb.n - COALESCE(i.n_shared, 0)) >= {VERIFY_JACCARD}
),
s3 AS MATERIALIZED (
    SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM drop3)
),
{_sim_q_cte("AND vec_id IN (SELECT doc_id FROM s3)")},
{_SIM_PAIR_CTES},
drop4 AS (
    SELECT DISTINCT p.vec_b AS doc_id
    FROM spairs p
    WHERE p.cosine >= {SEMDEDUP_COSINE}
),
s4 AS MATERIALIZED (
    SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)
),
s5 AS (
    SELECT s4.doc_id FROM s4
    LEFT JOIN sc ON sc.doc_id = s4.doc_id
    CROSS JOIN qgate
    WHERE COALESCE(sc.margin, 0) > qgate.qbar
),
f AS (
    SELECT 1 AS stage_idx, 'exact' AS stage,
           (SELECT COUNT(*) FROM s0) AS n_in, (SELECT COUNT(*) FROM s1) AS n_out
    UNION ALL
    SELECT 2, 'chunk_heavy',
           (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'lsh_near_dup',
           (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
    UNION ALL
    SELECT 4, 'semantic',
           (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
    UNION ALL
    SELECT 5, 'model_quality',
           (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5)
)
SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(n_in - n_out AS BIGINT) AS n_dropped,
       CAST(n_out AS BIGINT) AS n_out,
       CAST(((n_in - n_out) * 1000000) // n_in AS BIGINT) AS drop_ppm
FROM f
ORDER BY stage_idx
"""


@register(
    "pipeline_dedup_funnel",
    oracle=_FUNNEL_SQL,
    doc=(
        "End-to-end dedup REMOVAL FUNNEL — the per-stage attribution "
        "table a corpus release publishes (the Dolma/RefinedWeb 'what "
        "did each dedup stage remove' table): stages run cheapest-first "
        "on the survivors of the previous stage, so expensive stages "
        "only pay for what cheap stages could not kill. Stage 1 exact "
        "(md5 keep-min, groupBy+join — never a content-keyed window); "
        f"stage 2 chunk-heavy (>= 1/{FUNNEL_CHUNK_NUM} of a doc's "
        f"{DEDUP_CHUNK_W}-token chunks duplicated across surviving docs, "
        "dedup_chunk_keep_first's two-phase counting); stage 3 LSH "
        "near-dup (minhash banding on survivors -> pair-driven exact-"
        f"jaccard verify >= {VERIFY_JACCARD}); stage 4 semantic "
        "(SemDeDup sign-bucket cosine pairs >= "
        f"{SEMDEDUP_COSINE}, endpoints restricted to survivors with "
        "vectors; vectorless docs pass through); stage 5 (r13) the "
        "trained quality classifier at the sweep-selected bar "
        "(qc_gate_bar) — the funnel's model-gate stage, one broadcast "
        "comparison against the persisted scored frame, never a "
        "retrain/rescore. Stages 3/4 use the "
        "DOMINATED rule — drop a doc iff a surviving SMALLER-id "
        "neighbor exists in the stage's pair graph — a deliberate "
        "one-pass policy: unlike dedup_keep_list's full-component "
        "canonicalization it needs no iterative closure, at the cost of "
        "keeping both ends of a pair whose smaller end was itself "
        "dropped by transitivity (the component twin measures that "
        "residue). Output: per-stage n_in / n_dropped / n_out / "
        "exact-integer drop_ppm. All counting rides five 1-row "
        "aggregates crossJoined for the final 4-row artifact."
    ),
)
def pipeline_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import sim_bucketed_cosine_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # stage 1: exact content dedup, keep-min per hash
    hashed = docs.select("doc_id", "text", F.md5("text").alias("h"))
    keep1 = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    # survivor frames feed 2-3 consumers each (chunk stream, signatures,
    # token stream, stage counts): localCheckpoint cuts the re-derivation
    # a DAG branch per consumer would otherwise pay (measured 16s -> 13s
    # cold at sf0.1), same device as the threshold sweep's pair reuse
    s1docs = (
        hashed.join(keep1, "h")
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text")
    ).localCheckpoint()
    # stage 2: chunk-heavy docs (half or more of their chunks duplicated)
    cocc = _chunk_occurrences(
        s1docs.select("doc_id", F.split("text", " ").alias("toks"))
    )
    dupch = (
        cocc.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("ch", F.lit(1).alias("isdup"))
    )
    cstats = (
        cocc.join(dupch, "ch", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce("isdup", F.lit(0))).alias("n_dup"),
        )
    )
    s2docs = s1docs.join(
        cstats.where(
            FUNNEL_CHUNK_NUM * F.col("n_dup") < F.col("n_chunks")
        ).select("doc_id"),
        "doc_id",
    ).localCheckpoint()
    # stage 3: LSH-banded candidates on survivors (capped buckets fall
    # back to the bounded representative probes), exact-jaccard verified.
    # r15: minhash is PER-DOC, so the survivor signature is a doc_id
    # filter of the persisted full-corpus signature table — the r14
    # shape re-signed s2docs from scratch, and the three key consumers
    # inside lsh_candidate_pairs (hot, live, probes) each re-executed
    # that shingle explode + minhash aggregation. Per-doc distinct-token
    # sizes likewise become a map-only projection of the pinned survivor
    # frame instead of a third token-explode pass.
    sig3 = _minhash_signature(spark, sf_dir).join(
        s2docs.select("doc_id"), "doc_id"
    )
    # the verifier references the pair frame twice (intersections + the
    # base left join) — pin it so the banded self-join + probes +
    # distinct run once (the incremental_verdicts device, r15)
    cand = lsh_candidate_pairs(sig3).localCheckpoint()
    sizes3 = s2docs.select(
        "doc_id", F.size(F.array_distinct(F.split("text", " "))).alias("n")
    )
    verified = exact_jaccard(cand, distinct_tokens(s2docs), sizes3).where(
        F.col("jaccard") >= VERIFY_JACCARD
    )
    drop3 = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    s3 = (
        s2docs.select("doc_id").join(drop3, "doc_id", "left_anti")
    ).localCheckpoint()
    # stage 4: semantic certificate RE-ROOTED on survivors (ADVICE r10):
    # collapse representatives, split buckets, and hot anchors are
    # recomputed over the s3-filtered vector set, not filtered from a
    # full-corpus certificate — if stages 1-3 removed a group's
    # representative, its surviving exact twins still get an edge between
    # each other (a filtered full-corpus star would have no edge and both
    # would silently survive). Vectorless survivors pass through.
    from .similarity import _quantized, bucketed_pairs_of

    svq = (
        _quantized(spark, sf_dir)
        .select("vec_id", "qe", "nsq")
        .join(s3.withColumnRenamed("doc_id", "vec_id"), "vec_id")
    )
    spairs = bucketed_pairs_of(svq).where(F.col("cosine") >= SEMDEDUP_COSINE)
    drop4 = spairs.select(F.col("vec_b").alias("doc_id")).distinct()
    s4 = s3.join(drop4, "doc_id", "left_anti").localCheckpoint()
    # stage 5 (r13, VERDICT r12 item 1): the trained quality classifier
    # gates the dedup survivors at the bar the threshold sweep selects —
    # one broadcast of the 1-row bar into the PERSISTED scored frame
    # (margins ride the index store; this stage never retrains/rescores)
    from .quality import _qc_scored, qc_gate_bar

    s5 = (
        s4.join(_qc_scored(spark, sf_dir).select("doc_id", "margin"), "doc_id", "left")
        .crossJoin(F.broadcast(qc_gate_bar(spark, sf_dir).select("qbar")))
        .where(F.coalesce(F.col("margin"), F.lit(0)) > F.col("qbar"))
        .select("doc_id")
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    counts = (
        cnt(docs, "n0")
        .crossJoin(F.broadcast(cnt(s1docs, "n1")))
        .crossJoin(F.broadcast(cnt(s2docs, "n2")))
        .crossJoin(F.broadcast(cnt(s3, "n3")))
        .crossJoin(F.broadcast(cnt(s4, "n4")))
        .crossJoin(F.broadcast(cnt(s5, "n5")))
    )
    stages = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("stage_idx"),
                    F.lit(nm).alias("stage"),
                    F.col(ci).alias("n_in"),
                    F.col(co).alias("n_out"),
                )
                for i, (nm, ci, co) in enumerate(
                    [
                        ("exact", "n0", "n1"),
                        ("chunk_heavy", "n1", "n2"),
                        ("lsh_near_dup", "n2", "n3"),
                        ("semantic", "n3", "n4"),
                        ("model_quality", "n4", "n5"),
                    ],
                    start=1,
                )
            ]
        )
    )
    return (
        counts.select(stages.alias("s"))
        .select(
            F.col("s.stage_idx").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.n_in").cast("long").alias("n_in"),
            (F.col("s.n_in") - F.col("s.n_out")).cast("long").alias("n_dropped"),
            F.col("s.n_out").cast("long").alias("n_out"),
            F.expr("((s.n_in - s.n_out) * 1000000) div s.n_in")
            .cast("long")
            .alias("drop_ppm"),
        )
        .orderBy("stage_idx")
    )


# ------------------------------------------------------- b-bit minhash


@register(
    "dedup_minhash_bbit",
    oracle=f"""
WITH {_signature_overlap_sql()},
scored AS (
    SELECT doc_a, doc_b,
           ({" + ".join(
               f"CASE WHEN ah{i} % 2 = bh{i} % 2 THEN 1 ELSE 0 END"
               for i in range(N_HASHES))}) AS n_bit_match,
           n_agree, n_shared, na + nb - n_shared AS n_union
    FROM agree
)
SELECT doc_a, doc_b,
       CAST(n_bit_match AS BIGINT) AS n_bit_match,
       CAST(greatest(0, (2 * n_bit_match - {N_HASHES}) * 1000000 // {N_HASHES}) AS BIGINT)
           AS bbit_est_ppm,
       CAST(n_agree AS BIGINT) AS n_agree,
       CAST(n_agree * 1000000 // {N_HASHES} AS BIGINT) AS full_est_ppm,
       CAST(n_shared * 1000000 // n_union AS BIGINT) AS exact_jaccard_ppm
FROM scored
""",
    doc=(
        "b-bit minhash (Li & Konig, WWW 2010) at b=1: keep only the "
        "LOWEST BIT of each of the 8 minhash values — 1 byte of sketch "
        "per document instead of 96 — and estimate resemblance per LSH "
        "candidate pair with the collision-corrected estimator "
        "R = 2*P_match - 1 (a non-matching min pair still agrees on its "
        "low bit half the time, so raw bit agreement overestimates; the "
        "2P-1 form inverts E[P] = 1/2 + R/2, clamped at 0). Emitted next "
        "to the full-width agreement estimate AND the exact shingle "
        "jaccard on the same pairs, all in exact integer ppm — the "
        "storage/variance tradeoff table a 100 TB dedup index consults "
        "before choosing its sketch width (32x smaller signatures buy "
        "~2x estimator variance at b=1). Same bounded pair-driven plan "
        "as dedup_minhash_calibration: exact intersections only for LSH "
        "candidates, bit math off the already-built signatures."
    ),
)
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def low_bit(side: str, i: int) -> F.Column:
        # signatures are numeric (affine universal hashes): b=1 IS h % 2
        return F.col(f"{side}.h{i}") % 2

    n_bit_match = sum(
        F.when(low_bit("sa", i) == low_bit("sb", i), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    base = _signature_overlap(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        n_bit_match.cast("long").alias("n_bit_match"),
        F.col("n_agree").cast("long").alias("n_agree"),
        "n_shared",
        (F.col("na") + F.col("nb") - F.col("n_shared")).cast("long").alias("n_union"),
    )
    return base.select(
        "doc_a",
        "doc_b",
        "n_bit_match",
        # Li-Konig b=1 estimator R = 2P - 1 in exact integer ppm, clamped
        # at 0 (negative estimates are noise below random agreement)
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(f"(2 * n_bit_match - {N_HASHES}) * 1000000 DIV {N_HASHES}"),
        ).alias("bbit_est_ppm"),
        "n_agree",
        F.expr(f"n_agree * 1000000 DIV {N_HASHES}").alias("full_est_ppm"),
        F.expr("n_shared * 1000000 DIV n_union").alias("exact_jaccard_ppm"),
    )
