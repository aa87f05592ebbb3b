"""Seeded tables for the ``query_mix`` workload.

Same schemas as the TPC-H-ish parquet tables the queries read
(``sources.tables.TPCH_TABLES``), generated with NumPy from the workload
seed, so the benchmark needs no data outside its checkout. Only the tables
the query mix reads are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
VOCAB = 2000
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Every table the query mix reads, at ``scale`` (1.0 ≈ sf1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_ord, n_part = int(1_500_000 * scale), int(200_000 * scale)
    n_li = 4 * n_ord
    out: dict[str, pa.Table] = {}

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    okeys = np.arange(1, n_ord + 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_US + rng.integers(0, 86_400 * 2_000, n_ord) * 1_000_000),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, 4), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, 5), n_ord), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_US + rng.integers(0, 86_400 * 2_000, n_li) * 1_000_000),
    })

    n_ev, n_users = int(1_000_000 * scale), max(10, int(15_000 * scale))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_US + np.sort(rng.integers(0, 86_400 * 30 * 1_000_000, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: Zipf-weighted word runs over a vocabulary large enough that
    # unrelated documents are rarely near-duplicates; every 20th doc is an
    # earlier doc plus a trailing " dup" token, so the near-dup queries find
    # about the same number of pairs for every seed
    n_docs = int(50_000 * scale)
    words = np.array(WORDS + [f"w{i}" for i in range(VOCAB - len(WORDS))])
    weights = 1.0 / np.arange(1, len(words) + 1)
    weights /= weights.sum()
    lens = rng.integers(8, 90, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(words, lens[i], p=weights)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec = int(20_000 * scale)
    vec = rng.standard_normal((n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def write_tables(sf_dir: str, scale: float, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
