"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the registry reads (``etl_financial_report_spark.io
.TABLES``), one parquet file each, with the column types of
``schemas.DRIVER_TABLES``. Sizes and value distributions follow the TPC-H-ish
star schema plus the events / documents / embeddings tables the queries were
written against, at the 0.01 scale factor: 60k lineitem rows, 500 documents
(5% near-duplicates, each a copy of another document with `` dup``
appended) and 500 unit-norm 64-d embeddings.

The row counts, column types and value shapes were measured on the seed-42
test tables ``TESTDATA.md`` describes, and match them: documents of 10-100
tokens drawn from the same 31-word vocabulary, `` dup`` copies (which may
chain), the language mix, 64-d unit vectors with 10 labels, 150 users over a
30-day event stream. ``python3 perfbench/datagen.py --shapes DIR`` prints
these figures for any table directory.

The tables depend only on ``DATA_SEED``, never on the workload seed, so the
expected output digests in ``expected.json`` hold for every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: bump when the generator changes, so a cached copy is rebuilt
VERSION = 2

N_CUSTOMER = 1500
N_ORDERS = 15000
N_LINEITEM = 60000
N_PART = 2000
N_SUPPLIER = 100
N_EVENTS = 10000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
DUP_FRAC = 0.05

_DAY_US = 86_400_000_000


def _epoch_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: int, end: int, n: int) -> np.ndarray:
    return start + rng.integers(0, (end - start) // _DAY_US + 1, n) * _DAY_US


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER), s),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER), f64),
        }
    )
    partkey = np.arange(N_PART)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(partkey, i64),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART)
                    )
                ],
                s,
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, N_PART), s),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": pa.array(np.round(900 + (partkey % 1000) * 0.1, 2), f64),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS), f64),
            "o_orderdate": _ts(
                _days(rng, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1), N_ORDERS)
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS), s),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM), f64),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM), s),
            "l_shipdate": _ts(
                _days(rng, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4), N_LINEITEM)
            ),
        }
    )
    gaps = rng.integers(1, 2 * 259_000_000, N_EVENTS)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), i64),
            "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), s),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], s),
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, N_DOCUMENTS)
    ]
    # copies are made in place, in order, so a copy of a copy reads " dup dup"
    for i in np.sort(rng.choice(N_DOCUMENTS, round(DUP_FRAC * N_DOCUMENTS), replace=False)):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, N_DOCUMENTS, p=LANG_P), s),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCUMENTS)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write every table to ``out_dir`` (created), one file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ensure_tables(cache_root: str) -> str:
    """Return a directory holding the generated tables, generating them on
    first use. The directory is filled under a temporary name and renamed,
    so a run killed mid-write never leaves a partial copy behind."""
    final = os.path.join(cache_root, f"data-v{VERSION}-s{DATA_SEED}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    write_tables(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return final



def shapes(table_dir: str) -> dict:
    """The shape figures the generator is set from, for any table directory:
    row counts, document token counts and vocabulary, the share of ``dup``
    copies, the language mix, embedding count and width, event users and span."""
    tables = {
        f[: -len(".parquet")]: pq.read_table(os.path.join(table_dir, f))
        for f in sorted(os.listdir(table_dir))
        if f.endswith(".parquet")
    }
    texts = tables["documents"].column("text").to_pylist()
    tokens = np.array([len(x.split()) for x in texts])
    present = set(texts)
    copies = sum(x.endswith(" dup") and x[: -len(" dup")] in present for x in texts)
    langs = tables["documents"].column("lang").to_pylist()
    vecs = np.stack(tables["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    ts = tables["events"].column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    return {
        "rows": {name: t.num_rows for name, t in tables.items()},
        "doc_tokens_min_p50_max": [int(tokens.min()), float(np.median(tokens)), int(tokens.max())],
        "doc_vocab": len({w for x in texts for w in x.split()}),
        "doc_dup_copy_frac": round(copies / len(texts), 4),
        "doc_lang_frac": {
            lang: round(langs.count(lang) / len(langs), 3) for lang in sorted(set(langs))
        },
        "embedding_count_dim": list(vecs.shape),
        "embedding_norm_mean": round(float(np.linalg.norm(vecs, axis=1).mean()), 4),
        "event_users": len(set(tables["events"].column("user_id").to_pylist())),
        "event_span_days": round(float(ts.max() - ts.min()) / _DAY_US, 2),
    }


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="Generate the tables, or print a directory's shapes.")
    ap.add_argument("--shapes", metavar="DIR", help="print the shape figures of DIR's tables")
    args = ap.parse_args()
    if args.shapes:
        print(json.dumps(shapes(args.shapes), indent=1))
    else:
        here = os.path.dirname(os.path.abspath(__file__))
        print(ensure_tables(os.path.join(here, ".work")))
