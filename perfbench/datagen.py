"""Seeded input generation for the benchmark workloads.

``headline_tables`` writes the six tables the 18 headline queries read
(lineitem, orders, customer, part, documents, embeddings) with the same
schemas, value ranges and single-row-group layout as the repository's
TPC-H-style test tables (TESTDATA.md), so the benchmark does not depend on
data outside its checkout.  ``kg_corpus`` wraps ``fixtures.build_bench_corpus`` with the
worker count pinned, because that generator seeds each chunk's RNG from
the chunk index and the chunk size follows from ``workers``.

Both are pure functions of their arguments: the same seed writes
byte-identical parquet.
"""

from __future__ import annotations

import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# documents: the 30-token vocabulary of the test tables, plus the marker the
# near-duplicate copies carry
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = ("en", "zh", "de", "fr", "es")
DOC_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
PART_ADJ = ("cold", "small", "large", "blue", "old", "new", "hot", "red")
PART_NOUN = ("widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear")
PART_TYPES = ("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# corpus chunking for build_bench_corpus: fixed, so page content does not
# follow the host's core count
KG_CORPUS_WORKERS = 4


def _days(rng: np.random.Generator, n: int, lo: datetime.date, hi: datetime.date) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.12:
            # near or exact copy of an earlier document: a few tokens swapped
            # and/or the marker appended, so exact dedup, MinHash/LSH and the
            # span-removal queries all find work
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks += ["dup"] * int(rng.integers(0, 3))
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    langs = rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([DOC_LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def headline_tables(out_dir: str | Path, seed: int, sf: float) -> str:
    """Write the headline tables at scale factor ``sf`` into ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 20261017])
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables = {
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
            "l_shipdate": _days(rng, n_li, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                 zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in tables.items():
        # one row group per file: the test tables' layout, which the
        # program's scan widening is written for
        pq.write_table(table, out / f"{name}.parquet", row_group_size=len(table) + 1)
    return str(out)


def kg_corpus(out_dir: str | Path, seed: int, n_concepts: int) -> str:
    """Pages corpus for the pipeline workloads; returns the pages path."""
    from wikdict_gen_spark.fixtures import build_bench_corpus

    return build_bench_corpus(out_dir, n_concepts=n_concepts, seed=seed,
                              workers=KG_CORPUS_WORKERS)

