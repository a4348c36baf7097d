"""Seeded input generator for the benchmark workloads.

Schemas and value domains follow the engine's testdata tables
(``events``, ``documents``, ``embeddings``, ``orders``, ``lineitem``):
same column names, same Arrow types, same value ranges.  Sizes are the
benchmark's own (``SIZES``).  The same seed always yields the same
tables; the program only ever sees the parquet files written here.

Each table is written as ``<out>/<name>.parquet/part-NNNNN.parquet`` --
a directory of several files, so the scan is split like real input
(a single file would serialize it into one task).

Run on its own to inspect a workload's inputs:

    python3 perfbench/datagen.py activity_pipeline 7 OUT_DIR
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table, per workload.  Recorded in design.json.
SIZES: dict[str, dict[str, int]] = {
    "activity_pipeline": {"events": 50_000},
    "iterative_loops": {
        "events": 2_000,  # for the set-up's warm-up query only
        "embeddings": 500,
        "documents": 1_000,
        "orders": 15_000,
        "lineitem": 60_000,
    },
}
FILES_PER_TABLE = 4

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1_500
HOT_USER_SHARE = 0.20  # one user holds this share of all events
VALUE_MAX = 560.0
EVENT_SPAN_US = 30 * 86_400 * 1_000_000  # 30 days from 2024-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000

WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = (["en"] * 4) + ["de", "es", "fr", "zh"]
N_SOURCES = 20
NEAR_DUP_SHARE = 0.10  # planted near-duplicates of an earlier doc

EMB_DIM = 64
EMB_CLUSTERS = 10

N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = EPOCH_2024_US + np.sort(rng.integers(0, EVENT_SPAN_US, n))
    users = rng.integers(0, N_USERS, n)
    users[rng.random(n) < HOT_USER_SHARE] = int(rng.integers(0, N_USERS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.uniform(0.0, VALUE_MAX, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[pos] = str(words[rng.integers(0, len(words))])
            if rng.random() < 0.5:
                toks.append("dup")
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(10, 101))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, N_SOURCES, n)]
            ),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 7 * 365, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n)),
            "o_orderstatus": pa.array(
                np.array(ORDER_STATUS)[rng.integers(0, len(ORDER_STATUS), n)]
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500_000.0, n), 2)
            ),
            "o_orderdate": pa.array(
                (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
            ),
            "o_orderpriority": pa.array(
                np.array(ORDER_PRIORITY)[
                    rng.integers(0, len(ORDER_PRIORITY), n)
                ]
            ),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    days = rng.integers(0, 7 * 365, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n)),
            "l_linenumber": pa.array(
                rng.integers(1, 8, n).astype(np.int32)
            ),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105_000.0, n), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
            ),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
            ),
        }
    )


def tables(workload: str, seed: int) -> dict[str, pa.Table]:
    """The workload's input tables for ``seed``, as Arrow tables."""
    sizes = SIZES[workload]
    # one independent stream per table: resizing one table leaves the
    # others' contents unchanged
    rngs = {
        name: np.random.default_rng([seed, i])
        for i, name in enumerate(sorted(sizes))
    }
    makers = {
        "events": _events,
        "documents": _documents,
        "embeddings": _embeddings,
        "orders": _orders,
        "lineitem": lambda r, n: _lineitem(r, n, sizes["orders"]),
    }
    return {name: makers[name](rngs[name], n) for name, n in sizes.items()}


def write(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write the workload's tables under ``out_dir``; return row counts."""
    counts = {}
    for name, table in tables(workload, seed).items():
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        step = -(-table.num_rows // FILES_PER_TABLE)
        for i in range(FILES_PER_TABLE):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(tdir, f"part-{i:05d}.parquet"),
            )
        counts[name] = table.num_rows
    return counts


def fingerprint(workload: str, seed: int) -> str:
    """Content hash of the workload's tables (for the self-tests)."""
    h = hashlib.sha256()
    for name, table in sorted(tables(workload, seed).items()):
        h.update(name.encode())
        for col in table.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: datagen.py WORKLOAD SEED OUT_DIR")
    print(write(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
