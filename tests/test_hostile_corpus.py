"""Hostile-data robustness net (r10): every registered query must
EXECUTE (rows-only — no oracle compare) against a corpus spiked with the
degenerate rows a real crawl delivers daily: empty and single-token
texts, unicode/control characters, a document that is one enormous
token, whitespace runs, sources whose names carry no numeric id, an
all-zero embedding (zero norm -> NaN cosines), a sub-quantization-scale
vector (quantizes to all zeros), a SHORT vector, and an id far above the
dense range.

Why this net exists: the r10 streaming skew smoke found
`_mix_rate_col` hard-casting `substring(source, 4)` to long — an ANSI
cast error on any source not named srcN, i.e. a whole-pipeline crash on
the first real-world source label. Degenerate rows must degrade to
honest NULLs/empties/zero rows, never to a failed job; this net makes
that a standing guarantee across the full registry instead of a
per-round discovery. The base corpus is sf0.001 (so id-keyed query
constants still have their dense rows); the spikes are appended on top.
"""

import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_financial_report_spark import registry
from etl_financial_report_spark.io import TABLES, load_table

SRC_SF = "/root/testdata/sf0.001"
ARTIFACT = str(Path(__file__).resolve().parents[1] / "HOSTILE_SWEEP.json")

pytestmark = pytest.mark.slow

#: long-token doc: one 5,000-char "word" (no spaces at all)
_LONG_TOKEN = "x" * 5000
#: unicode torture: combining marks, RTL, emoji, NBSP, control chars
_UNICODE = "näive ‮RTL‬ \U0001f600 a b c\td e\xadf"

_HOSTILE_DOCS = [
    # (text, lang, source)
    ("", "xx", "empty_source_name_with_no_number"),
    (" ", "xx", "spaces only"),
    ("     ", "xx", "spaces only"),
    ("one", "xx", "single-token"),
    (_LONG_TOKEN, "xx", "one-enormous-token"),
    (_UNICODE, "xx", "unicode"),
    ("a b  c   d e", "xx", "whitespace-runs"),
    ("the the the the the the the the", "en", "pure-repetition"),
    ("\x00\x01\x02", "xx", "control-chars"),
]


@pytest.fixture(scope="session")
def hostile_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hostile"))
    docs = load_table(spark, SRC_SF, "documents")
    base_max = docs.agg(F.max("doc_id")).collect()[0][0]
    rows = [
        (base_max + 1 + i, t, lang, src, len(t))
        for i, (t, lang, src) in enumerate(_HOSTILE_DOCS)
    ] + [
        # an id far above the dense range (mod/bucket arithmetic must hold)
        (10**15, "far id doc text", "en", "far-id", 15),
    ]
    spike = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.unionByName(spike).coalesce(4).write.parquet(f"{root}/documents.parquet")

    emb = load_table(spark, SRC_SF, "embeddings")
    vmax = emb.agg(F.max("vec_id")).collect()[0][0]
    dim = 64
    # two nonconforming vectors landing IN the incremental batch slice
    # (vec_id % 10 == 7): dedup_semantic_incremental must verdict them
    # 'nonconforming', never drop them (ADVICE r10)
    batch7 = (vmax // 10 + 2) * 10 + 7
    vrows = [
        (vmax + 1, [0.0] * dim, 0),              # zero norm -> NaN cosine
        (vmax + 2, [1e-9] * dim, 0),             # quantizes to all zeros
        (vmax + 3, [0.5] * 8, 1),                # SHORT vector (8 of 64 dims)
        (vmax + 4, [-1.0] * dim, 1),             # all-negative signs
        (10**15, [1.0] * dim, 2),                # far id
        (batch7, [0.0] * dim, 3),                # zero norm in batch slice
        (batch7 + 10, [0.5] * 8, 3),             # short vector in batch slice
    ]
    vspike = spark.createDataFrame(
        vrows, "vec_id long, embedding array<float>, label int"
    )
    emb.unionByName(vspike).coalesce(4).write.parquet(f"{root}/embeddings.parquet")

    ev = load_table(spark, SRC_SF, "events")
    emax_row = ev.agg(F.max("event_id"), F.max("ts")).collect()[0]
    emax, tmax = emax_row[0], emax_row[1]
    erows = []
    # a burst user: 50 events at the SAME timestamp (window/session tie
    # storms), valid json props
    for i in range(50):
        erows.append(
            (emax + 1 + i, tmax, 10**15, "click", 0.0, '{"k": "v"}')
        )
    # a single-event user; zero/negative values; degenerate props strings
    erows += [
        (emax + 100, tmax, 10**15 + 1, "view", -1.5, "{}"),
        (emax + 101, tmax, 10**15 + 2, "", 0.0, "not json at all"),
        (emax + 102, tmax, 10**15 + 3, "purchase", 0.0, ""),
    ]
    espike = spark.createDataFrame(
        erows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.unionByName(espike).coalesce(4).write.parquet(f"{root}/events.parquet")

    for name in TABLES:
        if name not in ("documents", "embeddings", "events"):
            os.symlink(f"{SRC_SF}/{name}.parquet", f"{root}/{name}.parquet")
    return root


def test_every_query_survives_hostile_rows(spark, hostile_dir):
    """Execute ALL registered queries on the spiked corpus; collect()
    each. A failure list beats failing on the first query — one hostile
    row class often breaks several queries the same way (the first run
    of this net failed 36: one zero-norm vector threw ANSI
    DIVIDE_BY_ZERO out of every cosine, a short vector broke every
    matmul UDF, a sparse 10^15 doc_id overflowed the chunk position
    packing, and empty/1-token texts hit unguarded slice/element_at/
    division). Results land in HOSTILE_SWEEP.json."""
    failures, results = [], {}
    for name, q in sorted(registry.all_queries().items()):
        t0 = time.time()
        try:
            n = len(q.fn(spark, hostile_dir).collect())
            results[name] = {"status": "ok", "rows": n, "sec": round(time.time() - t0, 2)}
        except Exception as e:  # noqa: BLE001
            msg = str(e).splitlines()[0][:160]
            results[name] = {"status": f"fail: {type(e).__name__}", "sec": round(time.time() - t0, 2)}
            failures.append(f"{name}: {type(e).__name__}: {msg}")
    with open(ARTIFACT, "w") as f:
        json.dump(
            {
                "spikes": {
                    "documents": [s for _, _, s in _HOSTILE_DOCS] + ["far-id 10^15"],
                    "embeddings": [
                        "zero-norm", "sub-quantization-scale", "short-dim-8",
                        "all-negative", "far-id 10^15",
                        "zero-norm in incremental batch slice",
                        "short-dim-8 in incremental batch slice",
                    ],
                    "events": [
                        "50-event same-timestamp burst user (far id)",
                        "single-event user", "empty event_type",
                        "non-json and empty props", "negative value",
                    ],
                },
                "n_queries": len(results),
                "n_failures": len(failures),
                "queries": results,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    assert not failures, "\n".join(failures)


def test_semantic_incremental_verdicts_nonconforming_batch_rows(spark, hostile_dir):
    """ADVICE r10: the incremental verdict universe is the RAW batch slice
    (embeddings where vec_id % 10 == 7). A nonconforming batch vector
    (zero quantized norm, wrong dimension) is excluded from the cosine
    math by the conformance gate but must STILL verdict — explicitly
    'nonconforming' — so a data bug in today's crawl can never silently
    shrink the verdict set."""
    from etl_financial_report_spark.io import load_table
    from etl_financial_report_spark.operators.similarity import (
        dedup_semantic_incremental,
    )

    from etl_financial_report_spark.operators.similarity import _quantized

    emb = load_table(spark, hostile_dir, "embeddings")
    raw_batch = {
        r.vec_id for r in emb.where((F.col("vec_id") % 10) == 7).select("vec_id").collect()
    }
    gated = {
        r.vec_id
        for r in _quantized(spark, hostile_dir)
        .where((F.col("vec_id") % 10) == 7)
        .select("vec_id")
        .collect()
    }
    expect_nonconf = raw_batch - gated
    assert len(expect_nonconf) == 2  # the fixture's two in-batch spikes

    out = dedup_semantic_incremental(spark, hostile_dir)
    rows = {r.vec_id: r for r in out.collect()}
    assert set(rows) == raw_batch  # every raw batch row verdicts once
    for vid in expect_nonconf:
        r = rows[vid]
        assert r.verdict == "nonconforming"
        assert r.match_id is None and r.cosine is None
    # and conforming rows are untouched by the universe change
    assert all(
        rows[v].verdict in ("semantic_dup", "unique") for v in gated
    )
