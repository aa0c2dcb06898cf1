"""The benchmark's workloads: which registered queries a pass runs, and how
each pass treats the corpus and the index store.

``mode`` decides the inputs each query of a pass reads:

* ``fixed``: every pass reads the one generated table directory;
* ``cold``: every query reads a fresh copy of the tables (a new path, so the
  in-session memo misses) over an emptied index store, so every artifact
  family a query reads is built and published by that query, whatever the
  order of the pass.

The lists are cut to what fits the run budget (one process per run, under a
minute with its JVM start and warm-up); see ``CHANGES.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # "fixed" | "cold"
    queries: tuple[str, ...]
    #: a timed pass's wall clock on a 4-vCPU host after the warm-up pass;
    #: ``--seconds`` divided by it gives the number of timed passes
    pass_s: float


#: The paper's statement ETL (ingest, notes enrichment, CALK tree, statement
#: report) plus one query each of TPC-H, windows, scalar surfaces and
#: null-column pruning from the analyst SQL battery.
STATEMENT_SQL = (
    "pipeline_statement_ingest",
    "pipeline_notes_enrichment",
    "calk_sectionizer",
    "flagship_statement_report",
    "tpch_q6_forecast_revenue",
    "w_qoq_delta",
    "f13_quarter_mapping",
    "p9_null_column_prune",
)

#: The LLM-corpus operators: three artifact families. dedup_components and
#: dedup_lsh_verified each build and publish the minhash signatures and LSH
#: pairs (each over its own fresh corpus copy and empty store);
#: dedup_simhash64 builds the simhash64 signatures. sim_ann_recall_eval is the
#: exact-vs-ANN recall evaluation, with no store call.
CORPUS = (
    "dedup_components",
    "dedup_lsh_verified",
    "dedup_simhash64",
    "sim_ann_recall_eval",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("statement_sql", "fixed", STATEMENT_SQL, pass_s=5.0),
        Workload("corpus_cold", "cold", CORPUS, pass_s=8.0),
    )
}
