"""Deterministic input tables for the benchmark.

The tables mirror the shapes of the repo's sf0.1 test data (the
columns the benchmarked operators read), generated from a fixed data
seed so every run, on every machine, reads byte-identical inputs:

- ``documents``: 5,000 docs of 10-99 words over a 31-word vocabulary;
  one doc in 20 is a near-duplicate (an earlier doc plus `` dup``).
- ``orders``: 150,000 orders (key, customer, total price, date).

The benchmark seed (``--seed``) never changes these tables; it changes
the order of operations and, for ``lifecycle``, the keys, batches and
operation sequence drawn against them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a table's content changes, so cached builds regenerate
VERSION = 2
DATA_SEED = 42

N_DOCS = 5_000
N_ORDERS = 150_000

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    lang = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    days = rng.integers(0, 2400, N_ORDERS)
    dates = np.datetime64("1992-01-01") + days.astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, N_ORDERS), pa.int64()),
        "o_totalprice": pa.array(
            np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2), pa.float64()
        ),
        "o_orderdate": pa.array(dates.astype("datetime64[us]")),
    })


TABLES = {"documents": documents, "orders": orders}


def build(data_dir: str) -> None:
    """Write every table under ``data_dir`` (idempotent per VERSION)."""
    stamp = os.path.join(data_dir, f".complete-v{VERSION}")
    if os.path.exists(stamp):
        return
    os.makedirs(data_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([DATA_SEED, i])
        pq.write_table(make(rng), os.path.join(data_dir, f"{name}.parquet"))
    open(stamp, "w").close()
