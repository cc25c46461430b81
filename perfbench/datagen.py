"""Seeded synthetic tables for the ``queries`` workload.

The three tables the query slice reads, with the schemas, row counts and
value distributions of the engine's sf0.01 test tables (measured on them;
perfbench/README.md lists the figures):

- ``lineitem``, 60,000 rows of a TPC-H-like schema;
- ``events``, 10,000 rows over 30 days, 150 users;
- ``documents``, 500 texts of 10 to 99 words drawn uniformly from a
  30-word vocabulary, 5 % of which are replaced by another document's
  text plus the word ``dup`` (near-duplicates), in five languages
  (40 % ``en``) and from 20 sources in turn.

The same seed writes the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS, PARTS, SUPPLIERS = 15_000, 2_000, 100  # lineitem's key ranges
LINEITEMS, EVENTS, DOCUMENTS = 60_000, 10_000, 500
USERS, SOURCES = 150, 20
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
DOC_WORDS = (10, 100)  # words per document, half-open
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_SHARES = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
DAY_US = 86_400_000_000


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = LINEITEMS
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship_days = rng.integers(0, SHIP_DAYS, n).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "us").astype(np.int64)
            + ship_days * DAY_US, type=pa.timestamp("us")),
    })
    n = EVENTS
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64)
                       + offs, type=pa.timestamp("us")),
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = DOCUMENTS
    base = [" ".join(rng.choice(VOCAB, int(rng.integers(*DOC_WORDS))))
            for _ in range(n)]
    texts = list(base)
    for i in rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False):
        texts[i] = base[int(rng.integers(0, n))] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_SHARES),
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    return {"lineitem": lineitem, "events": events, "documents": documents}


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
