"""Registry entries for the end-to-end entry-point pipelines (SURVEY.md
§3) over deterministic reference-domain frames synthesized from the
driver tables: the pipeline logic (ingest.py) is generic; these queries
bind it to reproducible inputs so the driver can check it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import driver_frame, load_table
from ..registry import register
from .windows import NOTE_PATTERN  # noqa: E402
from .ingest import (
    extract_metadata,
    idempotent_append,
    match_notes,
    merge_notes,
    statement_facts,
)

def _nfc_udf():
    """NFC-normalizing pandas UDF (Arrow-batched; Unicode normalization
    has no JVM builtin). Built per call site — a pandas_udf holds no
    session state, so construction is cheap and import stays side-effect
    free."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda t: None if t is None else unicodedata.normalize("NFC", t))

    return nfc


def content_key(text: F.Column) -> F.Column:
    """THE canonical content key: md5 of the NFC-lowered,
    whitespace-collapsed, trimmed text. Single definition shared by the
    batch manifests (pipeline_corpus_clean / pipeline_keep_manifest) and
    the streaming corpus-build gate (streaming/runtime.gate_batch), so
    the pinned stream-vs-batch row-for-row agreement cannot drift when
    the gate changes."""
    return F.md5(F.trim(F.regexp_replace(_nfc_udf()(F.lower(text)), r"\s+", " ")))


def quality_bit(toks: F.Column) -> F.Column:
    """The Gopher-style quality gate over a MATERIALIZED token array:
    >= 20 tokens and stopword ('the'/'a') fraction < 0.3. Shared by the
    batch manifests and the streaming gate — same contract as
    content_key()."""
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    return (n_tokens >= 20) & (n_stop.cast("double") / n_tokens < 0.3)


#: IDX general-information sheets for three synthetic filings
#: (FIXTURES.md B1; mirrors mainTesting.py:413-431 incl. the edge rows:
#: F1 already carries the 'PT ' prefix, F2 is annual -> unique-Q4 flag).
GI_ROWS = [
    ("F0", 1, "Kode entitas", "BBCA"),
    ("F0", 2, "Nama entitas", "Bank Central Asia Tbk"),
    ("F0", 3, "Periode penyampaian laporan keuangan", "Kuartal I / First Quarter"),
    ("F0", 4, "Tanggal awal periode berjalan", "2023-01-01"),
    ("F1", 1, "Kode entitas", "BBNI"),
    ("F1", 2, "Nama entitas", "PT Bank Negara Indonesia (Persero) Tbk"),
    ("F1", 3, "Periode penyampaian laporan keuangan", "Kuartal II / Second Quarter"),
    ("F1", 4, "Tanggal awal periode berjalan", "2022-01-01"),
    ("F2", 1, "Kode entitas", "TLKM"),
    ("F2", 2, "Nama entitas", "Telkom Indonesia"),
    ("F2", 3, "Periode penyampaian laporan keuangan", "Tahunan / Annual"),
    ("F2", 4, "Tanggal awal periode berjalan", "2021-01-01"),
]

_GI_VALUES = ", ".join(f"('{f}', {r}, '{l}', '{v}')" for f, r, l, v in GI_ROWS)


def _synthetic_statement_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> statement-sheet lines: file from orderkey mod 3, statement
    group from order status, sparse nulls in nilai (FIXTURES.md B2)."""
    o = load_table(spark, sf_dir, "orders")
    grup = (
        F.when(F.col("o_orderstatus") == "F", "Laporan Neraca")
        .when(F.col("o_orderstatus") == "O", "Laporan Laba Rugi")
        .otherwise("Laporan Arus Kas")
    )
    return o.select(
        F.concat(F.lit("F"), (F.col("o_orderkey") % 3).cast("string")).alias("file_id"),
        grup.alias("grup"),
        F.col("o_orderkey").alias("row_no"),
        F.concat(F.lit("item "), F.col("o_orderkey").cast("string")).alias("item"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("nilai"),
    )


#: the statement-facts oracle prelude of pipeline_statement_ingest and
#: pipeline_notes_enrichment: metadata pivot (gi, meta, meta2), synthetic
#: statement lines (sl), preamble skip (numbered, joined) and the head of
#: ``facts`` through its scaled ``nilai``; each oracle closes ``facts``
_FACTS_PRELUDE = f"""
WITH gi(file_id, row_no, label, value) AS (VALUES {_GI_VALUES}),
meta AS (
    SELECT file_id,
        MAX(CASE WHEN lower(trim(label)) = 'kode entitas' THEN trim(value) END) AS kode_emiten,
        MAX(CASE WHEN lower(trim(label)) = 'nama entitas' THEN trim(value) END) AS raw_nama,
        MAX(CASE WHEN lower(trim(label)) = 'periode penyampaian laporan keuangan' THEN trim(value) END) AS periode,
        MAX(CASE WHEN lower(trim(label)) = 'tanggal awal periode berjalan' THEN trim(value) END) AS tanggal
    FROM gi GROUP BY file_id
),
meta2 AS (
    SELECT file_id, kode_emiten,
        CASE WHEN upper(substring(raw_nama, 1, 2)) = 'PT' THEN raw_nama
             ELSE 'PT ' || raw_nama END AS nama_emiten,
        CASE WHEN contains(lower(periode), 'kuartal i ') OR contains(lower(periode), 'first') THEN 1
             WHEN contains(lower(periode), 'kuartal ii ') OR contains(lower(periode), 'second') THEN 2
             WHEN contains(lower(periode), 'kuartal iii') OR contains(lower(periode), 'third') THEN 3
             ELSE 4 END AS quartal,
        CAST(substring(tanggal, 1, 4) AS INTEGER) AS tahun
    FROM meta
),
sl AS (
    SELECT 'F' || CAST(o_orderkey % 3 AS VARCHAR) AS file_id,
           CASE o_orderstatus WHEN 'F' THEN 'Laporan Neraca'
                              WHEN 'O' THEN 'Laporan Laba Rugi'
                              ELSE 'Laporan Arus Kas' END AS grup,
           o_orderkey AS row_no,
           'item ' || CAST(o_orderkey AS VARCHAR) AS item,
           CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_totalprice END AS nilai
    FROM orders
),
numbered AS (
    SELECT *, row_number() OVER (PARTITION BY file_id, grup ORDER BY row_no) AS rn FROM sl
),
joined AS (
    SELECT d.*, m.kode_emiten, m.nama_emiten, m.tahun, m.quartal,
           (m.quartal = 4) AS kuartal_unik
    FROM (SELECT * FROM numbered WHERE rn > 3) d JOIN meta2 m USING (file_id)
),
facts AS (
    SELECT kode_emiten, nama_emiten, tahun, quartal,
           grup AS grup_laporan_keuangan, item,
           CASE WHEN kuartal_unik THEN CAST(coalesce(nilai, 0.0) AS DECIMAL(18,2))
                ELSE CAST(coalesce(nilai, 0.0) AS DECIMAL(18,2)) * 1000000 END AS nilai"""


@register(
    "pipeline_statement_ingest",
    oracle=f"""{_FACTS_PRELUDE}
    FROM joined
),
existing(kode_emiten, tahun, quartal, grup_laporan_keuangan) AS (
    VALUES ('BBNI', 2022, 2, 'Laporan Neraca')
)
SELECT f.kode_emiten, f.nama_emiten, f.tahun, f.quartal, f.grup_laporan_keuangan,
       f.item, CAST(f.nilai AS DOUBLE) AS nilai
FROM facts f
WHERE NOT EXISTS (
    SELECT 1 FROM existing e
    WHERE e.kode_emiten = f.kode_emiten AND e.tahun = f.tahun
      AND e.quartal = f.quartal AND e.grup_laporan_keuangan = f.grup_laporan_keuangan
)
""",
    doc=(
        "EP1 statement ingest end-to-end (mainTesting.py:391-471,38-86): metadata "
        "pivot, preamble skip, null fill, conditional x1e6 decimal scaling, "
        "idempotent anti-join — one logical plan, one shuffle per stage."
    ),
)
def pipeline_statement_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    gi = driver_frame(spark, GI_ROWS, "file_id string, row_no int, label string, value string")
    meta = extract_metadata(gi)
    facts = statement_facts(_synthetic_statement_lines(spark, sf_dir), meta)
    existing = driver_frame(
        spark,
        [("BBNI", 2022, 2, "Laporan Neraca")],
        "kode_emiten string, tahun int, quartal int, grup_laporan_keuangan string",
    )
    out = idempotent_append(facts, existing)
    return out.select(
        "kode_emiten",
        "nama_emiten",
        "tahun",
        "quartal",
        "grup_laporan_keuangan",
        "item",
        F.col("nilai").cast("double").alias("nilai"),
    )


@register(
    "pipeline_notes_enrichment",
    oracle=f"""{_FACTS_PRELUDE},
           CAST(NULL AS VARCHAR) AS notes
    FROM joined
),
pdf_lines AS (
    SELECT CASE 'F' || CAST(o_orderkey % 3 AS VARCHAR)
                WHEN 'F0' THEN 'BBCA' WHEN 'F1' THEN 'BBNI' ELSE 'TLKM' END AS doc_id,
           CASE o_orderstatus WHEN 'F' THEN 'Laporan Neraca'
                              WHEN 'O' THEN 'Laporan Laba Rugi'
                              ELSE 'Laporan Arus Kas' END AS grup,
           1 AS page_no,
           CAST(o_orderkey * 2 + u.off AS INTEGER) AS line_no,
           CASE u.off WHEN 0 THEN 'item ' || CAST(o_orderkey AS VARCHAR)
                      ELSE CAST((o_orderkey % 9) + 1 AS VARCHAR) || 'a,'
                           || CAST((o_orderkey % 7) + 2 AS VARCHAR) END AS line
    FROM orders, (SELECT unnest([0, 1]) AS off) u
    WHERE o_orderkey % 50 = 1
),
led AS (
    SELECT *,
           lead(line, 1) OVER w AS next1,
           lead(line, 2) OVER w AS next2
    FROM pdf_lines
    WINDOW w AS (PARTITION BY doc_id, grup ORDER BY page_no, line_no)
),
candidates AS (
    SELECT doc_id, grup, line,
           CASE WHEN regexp_matches(next1, '{{NOTE_PATTERN}}') THEN next1
                WHEN regexp_matches(next2, '{{NOTE_PATTERN}}') THEN next2 END AS note
    FROM led
    WHERE trim(line) <> ''
      AND (CASE WHEN regexp_matches(next1, '{{NOTE_PATTERN}}') THEN next1
                WHEN regexp_matches(next2, '{{NOTE_PATTERN}}') THEN next2 END) IS NOT NULL
),
matches AS (
    SELECT f.kode_emiten, f.tahun, f.quartal, f.grup_laporan_keuangan, f.item, c.note
    FROM facts f
    JOIN candidates c
      ON f.kode_emiten = c.doc_id AND f.grup_laporan_keuangan = c.grup
     AND contains(lower(f.item), lower(c.line))
),
exploded AS (
    SELECT kode_emiten, tahun, quartal, grup_laporan_keuangan, item,
           string_split(note, ',')[u.ord] AS note_element,
           (u.ord = 1) AS is_update
    FROM matches,
         LATERAL (SELECT unnest(generate_series(1, len(string_split(note, ',')))) AS ord) u
),
updates AS (
    SELECT kode_emiten, tahun, quartal, grup_laporan_keuangan, item,
           min(note_element) AS new_note
    FROM exploded WHERE is_update
    GROUP BY 1, 2, 3, 4, 5
),
updated AS (
    SELECT f.kode_emiten, f.tahun, f.quartal, f.grup_laporan_keuangan, f.item,
           f.nilai, coalesce(u.new_note, f.notes) AS notes
    FROM facts f
    LEFT JOIN updates u
      USING (kode_emiten, tahun, quartal, grup_laporan_keuangan, item)
),
inserts AS (
    SELECT kode_emiten, tahun, quartal, grup_laporan_keuangan,
           item || ' (nota ' || note_element || ')' AS item,
           CAST(0 AS DECIMAL(38,2)) AS nilai,
           note_element AS notes
    FROM exploded WHERE NOT is_update
)
SELECT kode_emiten, tahun, quartal, grup_laporan_keuangan, item,
       CAST(nilai AS DOUBLE) AS nilai, notes
FROM (SELECT * FROM updated UNION ALL SELECT * FROM inserts)
""".replace("{{NOTE_PATTERN}}", NOTE_PATTERN),
    doc=(
        "EP2 notes enrichment end-to-end (mainTesting.py:88-185): PDF-line frame "
        "with lead-1/lead-2 note lookup, equi+contains join onto the fact table, "
        "comma-split explode into update/insert paths, storage-free merge."
    ),
)
def pipeline_notes_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    gi = driver_frame(spark, GI_ROWS, "file_id string, row_no int, label string, value string")
    meta = extract_metadata(gi)
    facts = statement_facts(_synthetic_statement_lines(spark, sf_dir), meta).cache()

    # PDF-shaped lines referencing a sample of fact items: line i names the
    # item, line i+1 carries a note reference like "3a,4" (FIXTURES.md B3).
    base = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 1)
    lines = base.select(
        F.concat(F.lit("F"), (F.col("o_orderkey") % 3).cast("string")).alias("kode_emiten_doc"),
        F.when(F.col("o_orderstatus") == "F", "Laporan Neraca")
        .when(F.col("o_orderstatus") == "O", "Laporan Laba Rugi")
        .otherwise("Laporan Arus Kas")
        .alias("grup"),
        F.col("o_orderkey").alias("base_no"),
        F.array(
            F.concat(F.lit("item "), F.col("o_orderkey").cast("string")),
            F.concat(
                ((F.col("o_orderkey") % 9) + 1).cast("string"),
                F.lit("a,"),
                ((F.col("o_orderkey") % 7) + 2).cast("string"),
            ),
        ).alias("ls"),
    ).select(
        # doc_id must equal the fact's kode_emiten for the equi-key join;
        # line_no = base_no*2 + offset is unique and order-preserving.
        F.when(F.col("kode_emiten_doc") == "F0", "BBCA")
        .when(F.col("kode_emiten_doc") == "F1", "BBNI")
        .otherwise("TLKM")
        .alias("doc_id"),
        "grup",
        F.lit(1).alias("page_no"),
        "base_no",
        F.posexplode("ls").alias("off", "line"),
    ).select(
        "doc_id",
        "grup",
        "page_no",
        (F.col("base_no") * 2 + F.col("off")).cast("int").alias("line_no"),
        "line",
    )

    matches = match_notes(lines, facts)
    return merge_notes(facts, matches).select(
        "kode_emiten",
        "tahun",
        "quartal",
        "grup_laporan_keuangan",
        "item",
        F.col("nilai").cast("double").alias("nilai"),
        "notes",
    )


@register(
    "pipeline_corpus_clean",
    oracle="""
WITH canon AS (
    SELECT doc_id, source, n_chars, text,
           md5(trim(regexp_replace(nfc_normalize(lower(text)), '\\s+', ' ', 'g'))) AS ck,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop
    FROM documents
),
verdict AS (
    SELECT *,
           (doc_id = MIN(doc_id) OVER (PARTITION BY ck)) AS is_canonical,
           (n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.3) AS passes_quality
    FROM canon
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN is_canonical THEN 1 END) AS n_unique,
       COUNT(CASE WHEN is_canonical AND passes_quality THEN 1 END) AS n_kept,
       COUNT(CASE WHEN NOT is_canonical THEN 1 END) AS n_dropped_dup,
       COUNT(CASE WHEN is_canonical AND NOT passes_quality THEN 1 END)
           AS n_dropped_quality,
       CAST(COALESCE(SUM(CASE WHEN is_canonical AND passes_quality THEN n_chars END), 0)
            AS BIGINT) AS chars_kept
FROM verdict
GROUP BY source
""",
    doc=(
        "End-to-end corpus cleaning — the training-data pipeline headline "
        "composing three already-proven stages into ONE plan: canonical "
        "md5 key (text_canonicalize: native lower/collapse/trim + "
        "NFC-only pandas UDF), canonical-per-cluster verdict "
        "(dedup_keep_list's two-phase min over the 16-byte hash), and the "
        "Gopher-style quality gate (text_quality_score), rolled up to "
        "per-source retention accounting: docs in, unique, kept, dropped "
        "as dup vs dropped as low-quality, chars surviving. One shuffle "
        "on the canonical hash + one on source; Catalyst fuses the gate "
        "expressions into the same stage as the scan, so the fact table "
        "is read once."
    ),
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        content_key(F.col("text")).alias("ck"),
        quality_bit(F.split("text", " ")).alias("passes_quality"),
    )
    # canonical-per-cluster via two-phase groupBy+join (min partially
    # aggregates map-side; a window over the content hash would hold a
    # degenerate dup cluster in one indivisible task)
    canon = keyed.groupBy("ck").agg(F.min("doc_id").alias("canonical_id"))
    verdict = keyed.join(canon, "ck").select(
        keyed["*"],
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )
    kept = F.col("is_canonical") & F.col("passes_quality")
    return verdict.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_canonical"), 1)).alias("n_unique"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~F.col("is_canonical"), 1)).alias("n_dropped_dup"),
        F.count(F.when(F.col("is_canonical") & ~F.col("passes_quality"), 1)).alias(
            "n_dropped_quality"
        ),
        F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("chars_kept"),
    )


def _keep_manifest_sql() -> str:
    """Oracle for the keep manifest — lazily built so the qc CTE chain
    (classifier training + sweep + gate-bar selection) is interpolated
    from quality.py's single source of truth."""
    from .quality import _qc_ctes, _qc_gate_ctes

    return f"""
WITH {_qc_ctes()},
{_qc_gate_ctes()},
model AS (
    SELECT l.doc_id, (COALESCE(sc.margin, 0) > qgate.qbar) AS passes_model
    FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id CROSS JOIN qgate
),
canon AS (
    SELECT doc_id, source, text,
           md5(trim(regexp_replace(nfc_normalize(lower(text)), '\\s+', ' ', 'g'))) AS ck,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop
    FROM documents
),
verdict AS (
    SELECT doc_id, source,
           (doc_id = MIN(doc_id) OVER (PARTITION BY ck)) AS is_canonical,
           (n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.3) AS passes_quality
    FROM canon
),
sh AS (
    SELECT doc_id, source,
           unnest(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                ELSE list_distinct(list_transform(
                         generate_series(1, len(string_split(text, ' ')) - 2),
                         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                              || ' ' || string_split(text, ' ')[i+2]))
           END) AS w
    FROM documents
),
bench AS (SELECT DISTINCT w FROM sh WHERE source = 'src0'),
corpus AS (SELECT doc_id, w FROM sh WHERE source <> 'src0'),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
    SELECT c.doc_id, COUNT(*) AS n_contaminated
    FROM corpus c JOIN bench b ON c.w = b.w GROUP BY c.doc_id
),
contam AS (
    SELECT s.doc_id,
           (CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_grams >= 0.5)
               AS is_contaminated
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
)
SELECT v.doc_id, v.source, v.is_canonical, v.passes_quality,
       COALESCE(m.passes_model, FALSE) AS passes_model, c.is_contaminated,
       (v.source <> 'src0' AND v.is_canonical AND v.passes_quality
        AND COALESCE(m.passes_model, FALSE)
        AND NOT COALESCE(c.is_contaminated, FALSE)) AS keep,
       CASE WHEN v.source = 'src0' THEN 'holdout'
            WHEN NOT v.is_canonical THEN 'duplicate'
            WHEN NOT v.passes_quality THEN 'quality'
            WHEN NOT COALESCE(m.passes_model, FALSE) THEN 'model_quality'
            WHEN COALESCE(c.is_contaminated, FALSE) THEN 'contaminated'
            ELSE NULL END AS drop_reason
FROM verdict v
LEFT JOIN contam c ON c.doc_id = v.doc_id
LEFT JOIN model m ON m.doc_id = v.doc_id
"""


@register(
    "pipeline_keep_manifest",
    oracle=_keep_manifest_sql(),
    doc=(
        "The per-document keep manifest — the row-level operational output a "
        "training-data build actually consumes (pipeline_corpus_clean is its "
        "per-source accounting rollup): every gate's verdict side by side "
        "(canonical-per-cluster, Gopher-style quality, benchmark "
        "decontamination, holdout exclusion), one final keep bit, and the "
        "FIRST failing gate as an explicit drop_reason so corpus composition "
        "changes are attributable. r13 adds the MODEL gate (VERDICT r12 "
        "item 1): the trained classifier's margin must clear the bar the "
        "threshold sweep selects (qc_gate_bar — the largest-keep decile "
        "clearing QC_GATE_PRECISION_PPM held-out precision, strictest-bar "
        "fallback), with its own passes_model "
        "column and 'model_quality' drop_reason class. All verdicts "
        "compose in one plan: one shuffle on the canonical hash, one gram "
        "equi-join against the tiny benchmark side, one doc_id join to "
        "stitch, and no collects; the model stage adds ONE broadcast of "
        "the 1-row bar against the persisted scored frame — margins ride "
        "the index store, so the gate costs a map-side comparison, never "
        "a retrain or rescore. The documents scan is read once per gate "
        "family (column-pruned each time) — at scale re-reading pruned "
        "columns beats materializing the exploded shingle stream, which "
        "is many times the corpus size."
    ),
)
def pipeline_keep_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import DECONTAM_FRAC, DECONTAM_HOLDOUT, _shingle_rows
    from .quality import _qc_scored, qc_gate_bar

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        content_key(F.col("text")).alias("ck"),
        quality_bit(F.split("text", " ")).alias("passes_quality"),
    )
    # two-phase canonical pick, same rationale as pipeline_corpus_clean
    canon = keyed.groupBy("ck").agg(F.min("doc_id").alias("canonical_id"))
    verdict = keyed.join(canon, "ck").select(
        "doc_id",
        "source",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        "passes_quality",
    )
    sh = _shingle_rows(docs, "doc_id", "source")
    bench = sh.where(F.col("source") == DECONTAM_HOLDOUT).select("w").distinct()
    corpus = sh.where(F.col("source") != DECONTAM_HOLDOUT).select("doc_id", "w")
    # ONE pass over the corpus gram stream (r15, guide §2.4): n_grams and
    # n_contaminated come from the same aggregate over the left-joined
    # stream — the r14 shape executed the exploded shingle subtree twice
    # (sizes and hits were separate aggregations joined after the fact;
    # Spark physically duplicates shared subtrees). bench is distinct, so
    # the left join preserves row multiplicity exactly.
    flagged = corpus.join(bench.select("w", F.lit(1).alias("hit")), "w", "left")
    contam = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
    ).select(
        "doc_id",
        (
            F.col("n_contaminated").cast("double") / F.col("n_grams")
            >= DECONTAM_FRAC
        ).alias("is_contaminated"),
    )
    # model gate: margin > the swept bar — one broadcast of the 1-row
    # bar into the persisted scored frame; coalesce False so a doc the
    # scorer somehow missed can never pass a MODEL gate unscored
    model = (
        _qc_scored(spark, sf_dir)
        .select("doc_id", "margin")
        .crossJoin(F.broadcast(qc_gate_bar(spark, sf_dir).select("qbar")))
        .select("doc_id", (F.col("margin") > F.col("qbar")).alias("passes_model"))
    )
    out = verdict.join(contam, "doc_id", "left").join(model, "doc_id", "left")
    contaminated = F.coalesce(F.col("is_contaminated"), F.lit(False))
    passes_model = F.coalesce(F.col("passes_model"), F.lit(False))
    keep = (
        (F.col("source") != DECONTAM_HOLDOUT)
        & F.col("is_canonical")
        & F.col("passes_quality")
        & passes_model
        & ~contaminated
    )
    reason = (
        F.when(F.col("source") == DECONTAM_HOLDOUT, "holdout")
        .when(~F.col("is_canonical"), "duplicate")
        .when(~F.col("passes_quality"), "quality")
        .when(~passes_model, "model_quality")
        .when(contaminated, "contaminated")
    )
    return out.select(
        "doc_id",
        "source",
        "is_canonical",
        "passes_quality",
        passes_model.alias("passes_model"),
        "is_contaminated",
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH a AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
),
b AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 3 = 0 THEN text || ' updated' ELSE text END) AS h
    FROM documents WHERE doc_id % 5 <> 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
""",
    doc=(
        "Corpus snapshot diff — the daily-recrawl delta every corpus "
        "pipeline reports before reprocessing: two snapshots (synthesized "
        "here from deterministic doc_id slices, with a third slice's text "
        "mutated to model recrawled pages) full-outer-join on the stable "
        "doc key and classify added / removed / changed / unchanged. Both "
        "sides reduce to (doc_id, md5) BEFORE the join, so the shuffle "
        "carries 16-byte hashes, never document bodies — at 100 TB the "
        "diff costs two pruned scans plus one co-partitioned join."
    ),
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snap_a = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h_a")
    )
    mutated = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    snap_b = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5(mutated).alias("h_b")
    )
    joined = snap_a.join(snap_b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
    )
    return joined.select("doc_id", status.alias("status"))


from ..functions.hashing import hash32_sql  # noqa: E402
from .sampling import (  # noqa: E402
    _SHARD_BUDGET,
    _mix_bucket_col,
    _mix_rate_col,
    _mix_rate_sql,
    shard_pack,
)

_CORPUS_BUILD_SQL = f"""
WITH manifest AS ({_keep_manifest_sql()}),
kept AS (
    SELECT m.doc_id, d.n_chars
    FROM manifest m
    JOIN documents d ON d.doc_id = m.doc_id
    WHERE m.keep
      AND {hash32_sql("'mix:' || CAST(m.doc_id AS VARCHAR)")} % 10000
          < {_mix_rate_sql("TRY_CAST(substr(d.source, 4) AS BIGINT)")}
),
ordered AS (
    SELECT doc_id, n_chars,
           SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_chars
    FROM kept
)
SELECT CAST((cum_chars - 1) // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM ordered
GROUP BY 1
"""


@register(
    "pipeline_corpus_build",
    oracle=_CORPUS_BUILD_SQL,
    doc=(
        "The full corpus build in ONE plan — raw documents to training "
        "shards: the keep manifest gates (canonical dedup, quality, "
        "decontamination, holdout) drop first, the deterministic mixture "
        "gate applies each source's keep rate to the survivors (same "
        "salted hash stream as sample_mixture_weights), and the remainder "
        "packs into ~fixed-size shards via the two-level distributed "
        "prefix sum (shard_pack). This is the artifact a training run "
        "reads: per-shard doc counts, char payloads and id ranges. Every "
        "stage is the already-verified operator — the composition proves "
        "they fuse into one lazy plan with no driver round-trips between "
        "stages."
    ),
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    manifest = pipeline_keep_manifest(spark, sf_dir)
    kept = (
        docs.join(manifest.where(F.col("keep")).select("doc_id"), "doc_id")
        .where(_mix_bucket_col() < _mix_rate_col())
        .select("doc_id", "n_chars")
    )
    return shard_pack(kept)


def _data_card_oracle() -> str:
    from .quality import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_TOKENS,
        _GOPHER_STOP_SQL,
        _qc_ctes,
        _qc_gate_ctes,
    )

    return f"""
WITH {_qc_ctes()},
{_qc_gate_ctes()},
mkeep AS (
    SELECT SUM(CASE WHEN COALESCE(sc.margin, 0) > qgate.qbar THEN 1 ELSE 0 END)
               AS model_n_keep
    FROM lab l LEFT JOIN sc ON sc.doc_id = l.doc_id CROSS JOIN qgate
),
base AS (
    SELECT doc_id, text, source, lang,
           string_split(text, ' ') AS toks
    FROM documents
),
vol AS (
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT lang) AS n_langs,
           SUM(len(toks)) AS total_tokens,
           SUM(length(text)) AS total_chars
    FROM base
),
dup AS (
    SELECT COALESCE(SUM(c), 0) AS exact_dup_docs
    FROM (SELECT COUNT(*) AS c FROM base GROUP BY text) WHERE c >= 2
),
gopher AS (
    SELECT SUM(CASE WHEN len(toks) BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
                     AND CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum') AS DOUBLE)
                         / len(toks) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
                     AND len(list_intersect(list_distinct(toks), {_GOPHER_STOP_SQL}))
                         >= {GOPHER_MIN_STOPWORDS}
               THEN 1 ELSE 0 END) AS n_keep
    FROM base
)
SELECT CAST(v.n_docs AS BIGINT) AS n_docs,
       CAST(v.n_sources AS BIGINT) AS n_sources,
       CAST(v.n_langs AS BIGINT) AS n_langs,
       CAST(v.total_tokens AS BIGINT) AS total_tokens,
       CAST(v.total_chars AS BIGINT) AS total_chars,
       CAST(d.exact_dup_docs AS BIGINT) AS exact_dup_docs,
       CAST(g.n_keep * 1000000 // v.n_docs AS BIGINT) AS gopher_keep_ppm,
       CAST(mk.model_n_keep * 1000000 // v.n_docs AS BIGINT) AS model_keep_ppm
FROM vol v CROSS JOIN dup d CROSS JOIN gopher g CROSS JOIN mkeep mk
"""


@register(
    "pipeline_data_card",
    oracle=_data_card_oracle(),
    doc=(
        "The one-row dataset card a corpus release ships: volume (docs, "
        "sources, languages, tokens, chars), exact-duplicate exposure "
        "(rows living in 2+-copy content groups), the Gopher-gate keep "
        "rate, and (r13) the MODEL-gate keep rate at the swept bar — all "
        "in integer ppm, headline numbers drawn with the SAME rule "
        "expressions as the row-level operators (text_gopher_gate, "
        "dedup_exact, qc_gate_bar), so the card can never drift from the "
        "gates it summarizes. Four corpus aggregates stitched by 1-row "
        "cross joins; everything integer until the final ppm division; "
        "the model stage reads the persisted scored frame, never "
        "retrains."
    ),
)
def pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_TOKENS,
        GOPHER_STOPWORDS,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    vol = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )
    dup = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("exact_dup_docs"))
    )
    n = F.size(toks)
    mean_wl = (
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).cast(
            "double"
        )
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
    gopher = docs.agg(F.sum(keep.cast("long")).alias("n_keep"))
    from .quality import _qc_scored, qc_gate_bar

    mkeep = (
        _qc_scored(spark, sf_dir)
        .crossJoin(F.broadcast(qc_gate_bar(spark, sf_dir).select("qbar")))
        .agg(
            F.sum((F.col("margin") > F.col("qbar")).cast("long")).alias(
                "model_n_keep"
            )
        )
    )
    return (
        vol.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(gopher))
        .crossJoin(F.broadcast(mkeep))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_tokens",
            "total_chars",
            "exact_dup_docs",
            F.expr("CAST(n_keep * 1000000 DIV n_docs AS BIGINT)").alias(
                "gopher_keep_ppm"
            ),
            F.expr("CAST(model_n_keep * 1000000 DIV n_docs AS BIGINT)").alias(
                "model_keep_ppm"
            ),
        )
    )


# ------------------------------------------------ data-quality constraints

#: the dbt-style constraint suite: (name, table) in report order
_CONSTRAINTS_DOC = (
    "key uniqueness (customer, documents), referential integrity "
    "(orders->customer, lineitem->orders/part/supplier, nation->region, "
    "customer->nation, embeddings->documents), domain rules "
    "(l_quantity > 0, 0 <= l_discount <= 0.5, events.user_id NOT NULL)"
)


@register(
    "pipeline_constraint_report",
    oracle="""
SELECT constraint_name, table_name, n_violations,
       (n_violations = 0) AS passed
FROM (
SELECT 'customer_key_unique' AS constraint_name, 'customer' AS table_name,
       CAST((SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer) AS BIGINT) AS n_violations
UNION ALL
SELECT 'documents_key_unique', 'documents',
       CAST((SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents) AS BIGINT)
UNION ALL
SELECT 'orders_customer_fk', 'orders',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_orders_fk', 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_part_fk', 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_supplier_fk', 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'nation_region_fk', 'nation',
       CAST((SELECT COUNT(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
UNION ALL
SELECT 'customer_nation_fk', 'customer',
       CAST((SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
UNION ALL
SELECT 'embeddings_documents_fk', 'embeddings',
       CAST((SELECT COUNT(*) FROM embeddings e
             WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS BIGINT)
UNION ALL
SELECT 'lineitem_quantity_positive', 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_quantity IS NULL OR isnan(l_quantity)
                OR NOT (l_quantity > 0)) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range', 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount IS NULL OR isnan(l_discount)
                OR NOT (l_discount >= 0 AND l_discount <= 0.5)) AS BIGINT)
UNION ALL
SELECT 'events_user_not_null', 'events',
       CAST((SELECT COUNT(*) FROM events WHERE user_id IS NULL) AS BIGINT)
) c
ORDER BY constraint_name
""",
    doc=(
        "Data-quality CONSTRAINT REPORT — the dbt-tests/Great-Expectations "
        f"artifact a warehouse runs on every load: {_CONSTRAINTS_DOC}. "
        "One row per constraint with its violation count and pass bit; a "
        "release gate greps for passed = false. Every check is either a "
        "two-column aggregate (uniqueness = count minus count-distinct, "
        "domain rules = a negated-predicate count with EXPLICIT null/NaN "
        "hostility: `x IS NULL OR isnan(x) OR NOT <rule>` — a bare "
        "NOT (x > 0) silently drops nulls under three-valued logic and "
        "NaN compares greater than everything, so both are spelled out "
        "to VIOLATE) or "
        "a left-anti join on the key (referential integrity) — dimension "
        "sides broadcast, fact-fact anti-joins shuffle on the key and "
        "AQE-split; the report itself is a union of 1-row aggregates. "
        "All twelve constraints genuinely bind: the semantic test "
        "engineers a violation for each and asserts the exact count."
    ),
)
def pipeline_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {
        n: load_table(spark, sf_dir, n)
        for n in (
            "customer", "orders", "lineitem", "part", "supplier",
            "nation", "region", "documents", "embeddings", "events",
        )
    }

    def unique(name, table, key):
        return (name, table, t[table].agg(
            (F.count(F.lit(1)) - F.countDistinct(key)).alias("v")
        ))

    def fk(name, child, ckey, parent, pkey):
        return (name, child, t[child].join(
            t[parent].select(pkey), F.col(ckey) == F.col(pkey), "left_anti"
        ).agg(F.count(F.lit(1)).alias("v")))

    def rule(name, table, violated):
        return (name, table, t[table].where(violated).agg(
            F.count(F.lit(1)).alias("v")
        ))

    checks = [
        unique("customer_key_unique", "customer", "c_custkey"),
        unique("documents_key_unique", "documents", "doc_id"),
        fk("orders_customer_fk", "orders", "o_custkey", "customer", "c_custkey"),
        fk("lineitem_orders_fk", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        fk("lineitem_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
        fk("lineitem_supplier_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        fk("nation_region_fk", "nation", "n_regionkey", "region", "r_regionkey"),
        fk("customer_nation_fk", "customer", "c_nationkey", "nation", "n_nationkey"),
        fk("embeddings_documents_fk", "embeddings", "vec_id", "documents", "doc_id"),
        # domain rules are explicitly NULL- and NaN-hostile: under
        # three-valued logic a bare NOT (x > 0) filter DROPS null rows
        # (and NaN compares greater than everything in both engines), so
        # both degenerate values must be spelled out to VIOLATE
        rule("lineitem_quantity_positive", "lineitem",
             F.col("l_quantity").isNull()
             | F.isnan("l_quantity")
             | ~(F.col("l_quantity") > 0)),
        rule("lineitem_discount_range", "lineitem",
             F.col("l_discount").isNull()
             | F.isnan("l_discount")
             | ~((F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.5))),
        rule("events_user_not_null", "events", F.col("user_id").isNull()),
    ]
    rows = [
        agg.select(
            F.lit(name).alias("constraint_name"),
            F.lit(table).alias("table_name"),
            F.col("v").cast("long").alias("n_violations"),
            (F.col("v") == 0).alias("passed"),
        )
        for name, table, agg in checks
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("constraint_name")


# ------------------------------------------------------ shard checksums

#: manifest shard count — at 100 TB this is thousands; 16 keeps every
#: shard populated at the test SFs
N_MANIFEST_SHARDS = 16

#: per-doc 60-bit content hash (15 md5 hex chars — fits int64 with room,
#: identical text -> identical contribution in both engines)
_DOC_H60 = "CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)"


@register(
    "pipeline_shard_checksums",
    oracle=f"""
SELECT {hash32_sql("CAST(doc_id AS VARCHAR)")} % {N_MANIFEST_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       bit_xor({_DOC_H60}) AS content_xor60
FROM documents
GROUP BY 1
""",
    doc=(
        "Shard CHECKSUM MANIFEST — the integrity artifact a corpus "
        "release publishes next to its shards (what table-format "
        "manifests and content-addressed stores record): per shard a doc "
        "count, char volume, id range, and a content checksum that is the "
        "XOR of per-doc 60-bit md5-prefix hashes. XOR is the scale move: "
        "it is commutative/associative (partial-aggregates map-side, no "
        "ordered concat of a corpus-sized shard — the naive "
        "md5-of-sorted-concat is a single-reducer OOM at 100 TB), "
        "constant state per group, and any single-doc corruption, drop, "
        "or duplicate-injection flips the checksum. Two manifests diff "
        "shard-by-shard without touching data. Portable end-to-end: "
        "md5-derived shard keys and doc hashes, bit_xor in both engines."
    ),
)
def pipeline_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    docs = load_table(spark, sf_dir, "documents")
    h60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            (hash32(F.col("doc_id").cast("string")) % N_MANIFEST_SHARDS).alias("shard"),
            "doc_id",
            "n_chars",
            h60.alias("h60"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.bit_xor("h60").alias("content_xor60"),
        )
    )


_MANIFEST_SHARDS_SQL = f"""
SELECT {hash32_sql("CAST(doc_id AS VARCHAR)")} % {N_MANIFEST_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       bit_xor({_DOC_H60}) AS content_xor60
FROM {{src}}
GROUP BY 1
"""


@register(
    "pipeline_manifest_drift",
    oracle=f"""
WITH prev AS ({_MANIFEST_SHARDS_SQL.format(
    src=f"(SELECT * FROM documents WHERE doc_id % 10 <> 7)")}),
cur AS ({_MANIFEST_SHARDS_SQL.format(src="documents")})
SELECT COALESCE(c.shard, p.shard) AS shard,
       COALESCE(p.n_docs, 0) AS prev_docs,
       COALESCE(c.n_docs, 0) AS cur_docs,
       COALESCE(c.n_docs, 0) - COALESCE(p.n_docs, 0) AS added_docs,
       (p.shard IS NULL OR c.shard IS NULL
        OR p.content_xor60 <> c.content_xor60) AS changed,
       CASE WHEN p.shard IS NULL THEN 'new_shard'
            WHEN c.shard IS NULL THEN 'shard_dropped'
            WHEN p.content_xor60 <> c.content_xor60 THEN 'content_changed'
            ELSE 'unchanged' END AS verdict
FROM cur c FULL OUTER JOIN prev p ON p.shard = c.shard
""",
    doc=(
        "Manifest DRIFT detection — the payoff of pipeline_shard_"
        "checksums' commutative design: yesterday's manifest (the corpus "
        "minus the daily batch slice, the dedup_incremental convention "
        "doc_id % 10 = 7) diffs against today's SHARD-BY-SHARD on "
        "O(shards) rows, so an incremental validator rescans ONLY the "
        "shards whose checksum moved instead of full-outer-joining two "
        "100 TB corpora (corpus_snapshot_diff's row-level shape, which "
        "this gates: run the expensive diff only on changed shards). "
        "Verdict per shard: new_shard / shard_dropped / content_changed "
        "/ unchanged; any added, dropped, or mutated doc flips its "
        "shard's XOR, and the FULL OUTER join means a shard whose docs "
        "ALL disappeared still surfaces (as shard_dropped with "
        "cur_docs=0) rather than vanishing from the report. Two "
        "aggregate passes + a 16-row join (both sides O(shards) "
        "aggregates, so the unbroadcastable full-outer is free)."
    ),
)
def pipeline_manifest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    docs = load_table(spark, sf_dir, "documents")
    h60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")

    def manifest(src: DataFrame) -> DataFrame:
        return (
            src.select(
                (hash32(F.col("doc_id").cast("string")) % N_MANIFEST_SHARDS).alias("shard"),
                h60.alias("h60"),
            )
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.bit_xor("h60").alias("content_xor60"))
        )

    prev = manifest(docs.where(F.col("doc_id") % 10 != 7)).select(
        F.col("shard"),
        F.col("n_docs").alias("prev_docs"),
        F.col("content_xor60").alias("prev_xor"),
    )
    return manifest_drift_frames(
        prev, manifest(docs)
    )


def manifest_drift_frames(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """FULL OUTER shard-by-shard diff of two checksum manifests.

    ``prev`` carries (shard, prev_docs, prev_xor); ``cur`` carries
    (shard, n_docs, content_xor60). The full-outer join is what makes a
    shard that lost ALL its docs (cur-side absent) surface as
    ``shard_dropped`` with cur_docs=0 instead of silently vanishing —
    unreachable from pipeline_manifest_drift's prev⊆cur construction but
    the live case for a real yesterday/today manifest pair; unit-pinned
    in tests/test_scale_discipline.py.
    """
    cur = cur.select(
        F.col("shard").alias("cur_shard"),
        F.col("n_docs").alias("cur_n_docs"),
        F.col("content_xor60").alias("cur_xor"),
    )
    prev = prev.select(
        F.col("shard").alias("prev_shard"), "prev_docs", "prev_xor"
    )
    joined = cur.join(prev, cur["cur_shard"] == prev["prev_shard"], "full_outer")
    changed = (
        F.col("prev_shard").isNull()
        | F.col("cur_shard").isNull()
        | (F.col("prev_xor") != F.col("cur_xor"))
    )
    return joined.select(
        F.coalesce("cur_shard", "prev_shard").alias("shard"),
        F.coalesce("prev_docs", F.lit(0)).alias("prev_docs"),
        F.coalesce("cur_n_docs", F.lit(0)).alias("cur_docs"),
        (F.coalesce("cur_n_docs", F.lit(0)) - F.coalesce("prev_docs", F.lit(0))).alias(
            "added_docs"
        ),
        changed.alias("changed"),
        F.when(F.col("prev_shard").isNull(), "new_shard")
        .when(F.col("cur_shard").isNull(), "shard_dropped")
        .when(F.col("prev_xor") != F.col("cur_xor"), "content_changed")
        .otherwise("unchanged")
        .alias("verdict"),
    )


@register(
    "pipeline_drop_reason_matrix",
    oracle=f"""
WITH manifest AS ({_keep_manifest_sql()}),
tot AS (SELECT source, COUNT(*) AS n_source FROM manifest GROUP BY source)
SELECT m.source,
       COALESCE(m.drop_reason, 'kept') AS outcome,
       COUNT(*) AS n_docs,
       CAST(t.n_source AS BIGINT) AS n_source,
       CAST(COUNT(*) * 1000000 // t.n_source AS BIGINT) AS share_ppm
FROM manifest m JOIN tot t ON t.source = m.source
GROUP BY m.source, COALESCE(m.drop_reason, 'kept'), t.n_source
ORDER BY m.source, outcome
""",
    doc=(
        "Per-source drop-reason matrix — the per-source loss-attribution "
        "table a corpus release publishes beside the funnel (the "
        "Dolma/RefinedWeb 'what did each source lose to which gate' "
        "breakdown): every (source, first-failing-gate) cell of the keep "
        "manifest — holdout / duplicate / quality / model_quality (r13) "
        "/ contaminated / kept — with doc counts and the exact-ppm share "
        "of its source. This is where a mixture owner sees that one "
        "crawl loses 40% to the model gate while another loses to dedup, "
        "BEFORE weights are chosen. Pure rollup of the already-verified "
        "manifest (one groupBy + a per-source total join); the manifest "
        "plan underneath is unchanged."
    ),
)
def pipeline_drop_reason_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifest = pipeline_keep_manifest(spark, sf_dir).select(
        "source", F.coalesce("drop_reason", F.lit("kept")).alias("outcome")
    )
    cells = manifest.groupBy("source", "outcome").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).localCheckpoint()  # O(sources x gates) rows; 2 consumers (tot +
    # the join below) — without the pin each re-executed the whole
    # manifest pass (the gate-drift cells-pin device, optimization r15)
    tot = cells.groupBy("source").agg(F.sum("n_docs").alias("n_source"))
    return (
        cells.join(tot, "source")
        .select(
            "source",
            "outcome",
            "n_docs",
            F.col("n_source").cast("long").alias("n_source"),
            F.expr("n_docs * 1000000 DIV n_source").cast("long").alias("share_ppm"),
        )
        .orderBy("source", "outcome")
    )


# ------------------------------------------- gate drift matrix (r14)

#: share movement (ppm of the source) below which a cell is 'stable'
GATE_DRIFT_PPM = 10_000


def gate_drift_frames(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """FULL OUTER (source, outcome) diff of two drop-reason matrices —
    manifest_drift_frames' grammar lifted to gate cells. Both inputs
    carry (source, outcome, n_docs, share_ppm). Verdict classes:

      * source_new / source_dropped — the whole source (all its cells)
        entered or left the corpus;
      * cell_new / cell_gone — the source persists but STARTED or
        STOPPED losing docs to this gate (the recrawl alarm VERDICT r13
        item 5 asks for);
      * share_up / share_down — the cell persists and its share of the
        source moved by >= GATE_DRIFT_PPM;
      * stable — everything else.

    Both matrices are O(|sources| x |gates|) rows, so the full-outer
    join and every aggregate here are driver-trivial at any corpus
    scale; the cost lives in the manifest passes upstream."""
    psrc = prev.select("source").distinct().withColumn("in_prev", F.lit(True))
    csrc = cur.select("source").distinct().withColumn("in_cur", F.lit(True))
    p = prev.select(
        F.col("source").alias("p_source"),
        F.col("outcome").alias("p_outcome"),
        F.col("n_docs").alias("prev_docs"),
        F.col("share_ppm").alias("prev_share_ppm"),
    )
    c = cur.select(
        F.col("source").alias("c_source"),
        F.col("outcome").alias("c_outcome"),
        F.col("n_docs").alias("cur_docs"),
        F.col("share_ppm").alias("cur_share_ppm"),
    )
    j = c.join(
        p,
        (c["c_source"] == p["p_source"]) & (c["c_outcome"] == p["p_outcome"]),
        "full_outer",
    ).select(
        F.coalesce("c_source", "p_source").alias("source"),
        F.coalesce("c_outcome", "p_outcome").alias("outcome"),
        F.coalesce("prev_docs", F.lit(0)).cast("long").alias("prev_docs"),
        F.coalesce("cur_docs", F.lit(0)).cast("long").alias("cur_docs"),
        F.coalesce("prev_share_ppm", F.lit(0)).cast("long").alias("prev_share_ppm"),
        F.coalesce("cur_share_ppm", F.lit(0)).cast("long").alias("cur_share_ppm"),
        F.col("p_outcome").isNull().alias("_no_prev_cell"),
        F.col("c_outcome").isNull().alias("_no_cur_cell"),
    )
    delta = F.col("cur_share_ppm") - F.col("prev_share_ppm")
    verdict = (
        F.when(~F.coalesce("in_prev", F.lit(False)), "source_new")
        .when(~F.coalesce("in_cur", F.lit(False)), "source_dropped")
        .when(F.col("_no_prev_cell"), "cell_new")
        .when(F.col("_no_cur_cell"), "cell_gone")
        .when(delta >= GATE_DRIFT_PPM, "share_up")
        .when(delta <= -GATE_DRIFT_PPM, "share_down")
        .otherwise("stable")
    )
    return (
        j.join(F.broadcast(psrc), "source", "left")
        .join(F.broadcast(csrc), "source", "left")
        .select(
            "source",
            "outcome",
            "prev_docs",
            "cur_docs",
            "prev_share_ppm",
            "cur_share_ppm",
            delta.cast("long").alias("delta_ppm"),
            verdict.alias("verdict"),
        )
        .orderBy("source", "outcome")
    )


def _gate_drift_oracle() -> str:
    return f"""
WITH manifest AS ({_keep_manifest_sql()}),
gdc AS (
    SELECT source, COALESCE(drop_reason, 'kept') AS outcome, COUNT(*) AS n
    FROM manifest GROUP BY 1, 2
),
gdct AS (SELECT source, SUM(n) AS ns FROM gdc GROUP BY source),
gcur AS (
    SELECT c.source, c.outcome, c.n AS cur_docs,
           CAST(c.n * 1000000 // t.ns AS BIGINT) AS cur_share_ppm
    FROM gdc c JOIN gdct t USING (source)
),
gdp AS (
    SELECT source, COALESCE(drop_reason, 'kept') AS outcome, COUNT(*) AS n
    FROM manifest WHERE doc_id % 10 != 7 GROUP BY 1, 2
),
gdpt AS (SELECT source, SUM(n) AS ns FROM gdp GROUP BY source),
gprev AS (
    SELECT p.source, p.outcome, p.n AS prev_docs,
           CAST(p.n * 1000000 // t.ns AS BIGINT) AS prev_share_ppm
    FROM gdp p JOIN gdpt t USING (source)
),
gj AS (
    SELECT COALESCE(c.source, p.source) AS source,
           COALESCE(c.outcome, p.outcome) AS outcome,
           COALESCE(p.prev_docs, 0) AS prev_docs,
           COALESCE(c.cur_docs, 0) AS cur_docs,
           COALESCE(p.prev_share_ppm, 0) AS prev_share_ppm,
           COALESCE(c.cur_share_ppm, 0) AS cur_share_ppm,
           (p.outcome IS NULL) AS no_prev_cell,
           (c.outcome IS NULL) AS no_cur_cell
    FROM gcur c
    FULL OUTER JOIN gprev p
      ON p.source = c.source AND p.outcome = c.outcome
)
SELECT j.source, j.outcome,
       CAST(prev_docs AS BIGINT) AS prev_docs,
       CAST(cur_docs AS BIGINT) AS cur_docs,
       prev_share_ppm, cur_share_ppm,
       CAST(cur_share_ppm - prev_share_ppm AS BIGINT) AS delta_ppm,
       CASE WHEN j.source NOT IN (SELECT source FROM gdpt) THEN 'source_new'
            WHEN j.source NOT IN (SELECT source FROM gdct) THEN 'source_dropped'
            WHEN no_prev_cell THEN 'cell_new'
            WHEN no_cur_cell THEN 'cell_gone'
            WHEN cur_share_ppm - prev_share_ppm >= {GATE_DRIFT_PPM} THEN 'share_up'
            WHEN cur_share_ppm - prev_share_ppm <= -{GATE_DRIFT_PPM} THEN 'share_down'
            ELSE 'stable' END AS verdict
FROM gj j
ORDER BY j.source, j.outcome
"""


@register(
    "pipeline_gate_drift_matrix",
    oracle=_gate_drift_oracle(),
    doc=(
        "Per-source GATE DRIFT report (VERDICT r13 item 5): pipeline_"
        "drop_reason_matrix's (source x first-failing-gate) cells "
        "DIFFED between two corpus snapshots under the engine's daily-"
        "batch convention (previous snapshot = corpus minus the doc_id "
        "% 10 = 7 slice, corpus_token_drift / pipeline_manifest_drift's "
        "grammar) — the recrawl alarm a mixture owner reads: which "
        "source STARTED losing docs to which gate (cell_new), stopped "
        "(cell_gone), or shifted share by >= "
        f"{GATE_DRIFT_PPM} ppm (share_up / share_down), plus whole-"
        "source entry/exit. Both snapshots roll up from ONE manifest "
        "pass (append-only ingest keeps old docs' verdicts: min-doc_id "
        "canonicals cannot lose to higher-id arrivals and the holdout "
        "set is fixed; a production run diffs against yesterday's "
        "PUBLISHED matrix instead, capturing bar retraining too). The "
        "diff itself is O(sources x gates) rows — driver-trivial at any "
        "corpus scale."
    ),
)
def pipeline_gate_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifest = pipeline_keep_manifest(spark, sf_dir).select(
        "doc_id", "source", F.coalesce("drop_reason", F.lit("kept")).alias("outcome")
    )
    # BOTH snapshots roll up from one manifest pass: each cell counts its
    # docs and, inside the same aggregate, how many belong to the prev
    # snapshot — the two matrices then derive from the tiny cell table
    cells = manifest.groupBy("source", "outcome").agg(
        F.count(F.lit(1)).alias("cur_n"),
        F.sum(((F.col("doc_id") % 10) != 7).cast("long")).alias("prev_n"),
    ).localCheckpoint()  # O(sources x gates) rows; 4 consumers below —
    # without the pin each of ct/cur/pcells/pt re-executed the whole
    # manifest pass (measured ~2x the query, optimization r14)
    ct = cells.groupBy("source").agg(F.sum("cur_n").alias("ns"))
    cur = (
        cells.join(ct, "source")
        .select(
            "source",
            "outcome",
            F.col("cur_n").alias("n_docs"),
            F.expr("cur_n * 1000000 DIV ns").cast("long").alias("share_ppm"),
        )
    )
    pcells = cells.where(F.col("prev_n") > 0)
    pt = pcells.groupBy("source").agg(F.sum("prev_n").alias("ns"))
    prev = (
        pcells.join(pt, "source")
        .select(
            "source",
            "outcome",
            F.col("prev_n").alias("n_docs"),
            F.expr("prev_n * 1000000 DIV ns").cast("long").alias("share_ppm"),
        )
    )
    return gate_drift_frames(prev, cur)
