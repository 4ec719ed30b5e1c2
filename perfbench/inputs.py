"""Seeded input generation: every table the workloads read is made here
from the run's ``--seed``, so the program under test only ever sees
these files.

Shapes follow the sf0.1 testdata the repository's own tests use: the
TPC-H-style customer/orders/lineitem star (15 000 / 150 000 / 600 000
rows, uniform independent columns, Poisson key fan-out) that the
migration pipeline moves, and the LLM-curation corpus (5 000 documents
of 10-99 words over a 30-word vocabulary, 255 of them a copy of another
document plus " dup"; 2 000 unit-length 64-d embeddings). Every file is
written as a single Parquet row group, like the testdata, so scan
parallelism is the program's decision, not the generator's.
``perfbench/compare_inputs.py`` measures the generated tables against a
testdata directory on the figures that drive the workloads' cost.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_LINEITEMS = 600_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBEDDING_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS_PER_DOCUMENT = (10, 100)  # [lo, hi)
NEAR_DUPLICATES = 255

MIGRATE_TABLES = ("customer", "orders", "lineitem")
CURATE_TABLES = ("documents", "embeddings")

_DAY_US = 86_400 * 1_000_000


def _dates(rng: np.random.Generator, first: datetime, days: int, n: int) -> pa.Array:
    """``n`` midnights drawn uniformly from ``days`` days from ``first``."""
    epoch_us = int((first - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + rng.integers(0, days, n) * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def migrate_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    customer = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -1000.0, 10_000.0, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    })
    orders = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, N_ORDERS),
        "o_orderdate": _dates(rng, datetime(1995, 1, 1), 2405, N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEMS),
        "l_partkey": rng.integers(0, 20_000, N_LINEITEMS),
        "l_suppkey": rng.integers(0, 1_000, N_LINEITEMS),
        "l_linenumber": rng.integers(1, 8, N_LINEITEMS).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEMS).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, N_LINEITEMS),
        "l_discount": rng.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEMS),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEMS),
        "l_shipdate": _dates(rng, datetime(1995, 1, 2), 2499, N_LINEITEMS),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def curate_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in rng.integers(*WORDS_PER_DOCUMENT, N_DOCUMENTS)]
    # ~5 % near-duplicates: a copy of another document plus one token,
    # the shape every dedup operator in the mix is built to find
    dups = rng.choice(N_DOCUMENTS, NEAR_DUPLICATES, replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    documents = pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCUMENTS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table to ``<out_dir>/<name>.parquet`` as one row
    group; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows)
        paths[name] = path
    return paths
