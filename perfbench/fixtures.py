"""Fixed synthetic tables matched to the sf0.1 star-schema fixtures.

The benchmark must build everything it reads from source inside its own
checkout, so it cannot read a prepared data directory. These generators
reproduce the sf0.1 ``lineitem``, ``events`` and ``documents`` tables.
The figures below were measured on the sf0.1 files; this fixed draw
matches them up to sampling noise:

- ``lineitem``: 600 000 rows in one row group. ``l_orderkey`` uniform
  over 150 000 keys (147 236 distinct, 1-17 lines per order, mean 4.08),
  ``l_partkey`` uniform over 20 000 keys (11-53 lines per part, mean
  30), ``l_suppkey`` over 1 000, ``l_quantity`` 1-50, six
  (returnflag, linestatus) groups of ~100 k rows, ``l_extendedprice``
  uniform on [900, 105 000] with two decimals.
- ``events``: 100 000 rows in one row group. Five event types of ~20 k
  rows each, ``user_id`` uniform over 1 500 users (45-99 events per
  user; the true top-5 users of a type hold 23-29 events, with ties),
  ``value`` exponential with mean 50 (49.9) and two decimals.
- ``documents``: 5 000 rows in one row group, ``doc_id`` 0-4999. Every
  document is ONE line of 10-100 words (uniform; mean 54.1) drawn
  uniformly from a 30-word vocabulary, 297 characters on average. 5%
  of the documents (250) are an earlier document with the word ``dup``
  appended; when two of them copy the same document they are exact
  duplicates of each other (this draw: 262 copies, 14 lines removed by
  line dedup; sf0.1: 250 and 8).
  No case, whitespace or blank-line variation.

Columns no workload reads (``l_shipdate``, ``ts``, ``props``, ``lang``,
...) are left out. The seed is fixed: the workload seed picks the
transcript stream and the query probes, never these tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# bump when a generator changes, so cached files are rebuilt
VERSION = 2

N_LINEITEM = 600_000
N_ORDERS = 150_000
N_PARTS = 20_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
DUP_SHARE = 0.05
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
# the sf0.1 documents' vocabulary
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def lineitem() -> pd.DataFrame:
    rng = np.random.default_rng([FIXTURE_SEED, 1])
    n = N_LINEITEM
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, n, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PARTS, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
    })


def events() -> pd.DataFrame:
    rng = np.random.default_rng([FIXTURE_SEED, 2])
    n = N_EVENTS
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, N_USERS, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
    })


def documents() -> pd.DataFrame:
    rng = np.random.default_rng([FIXTURE_SEED, 3])
    texts, originals = [], []
    for i in range(N_DOCS):
        if originals and rng.uniform() < DUP_SHARE:
            src = originals[int(rng.integers(0, len(originals)))]
            texts.append(texts[src] + " dup")
            continue
        words = _VOCAB[rng.integers(0, len(_VOCAB), rng.integers(10, 101))]
        originals.append(i)
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64),
                         "text": texts})


TABLES = {"lineitem": lineitem, "events": events, "documents": documents}


def ensure(data_dir: str) -> dict:
    """Write every table once into ``data_dir`` (single row group each)
    and return ``{name: path}``. Files are written under a temporary
    name and renamed, so an interrupted run never leaves a torn file."""
    os.makedirs(data_dir, exist_ok=True)
    paths = {}
    for name, make in TABLES.items():
        path = os.path.join(data_dir, f"{name}-v{VERSION}.parquet")
        if not os.path.exists(path):
            table = pa.Table.from_pandas(make(), preserve_index=False)
            tmp = f"{path}.{os.getpid()}.tmp"
            pq.write_table(table, tmp, row_group_size=table.num_rows)
            os.replace(tmp, path)
        paths[name] = path
    return paths
