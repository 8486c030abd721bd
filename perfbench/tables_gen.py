"""Seeded generator of the relational and document tables the catalog
queries read: ``customer``, ``orders``, ``lineitem`` and ``documents``.

Schemas and value ranges follow the TPC-H-like tables described in
FIXTURES.md §B, at about a hundredth of TPC-H scale.  ``documents`` draws its
words from a small vocabulary and carries exact duplicates and mutated near
duplicates, so the pair-finding queries have pairs to find.  The same seed
gives byte-identical Parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1500
N_ORDERS = 15000
N_DOCUMENTS = 500
N_EXACT_DUP = 10
N_NEAR_DUP = 20
TABLES = ("customer", "orders", "lineitem", "documents")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group "
    "stream filter big vector"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.45, 0.15, 0.15, 0.12, 0.13]

_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 in microseconds
_DAY_US = 86_400 * 1_000_000


def _timestamps(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995_US + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _customer(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_CUSTOMER, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })


def _orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    okeys = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    l_okey = np.repeat(okeys, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    disc = np.round(rng.integers(0, 11, n) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n) / 100.0, 2)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n)
    shipped = ship < 1800
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N").tolist(),
        "l_linestatus": np.where(shipped, "F", "O").tolist(),
        "l_shipdate": _timestamps(ship),
    })
    total = np.zeros(N_ORDERS)
    np.add.at(total, l_okey, price * (1 + tax) * (1 - disc))
    status_f = np.zeros(N_ORDERS, dtype=np.int64)
    np.add.at(status_f, l_okey, shipped.astype(np.int64))
    status = np.where(status_f == lines, "F", np.where(status_f == 0, "O", "P"))
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": status.tolist(),
        "o_totalprice": np.round(total, 2),
        "o_orderdate": _timestamps(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    return orders, lineitem


def _documents(rng: np.random.Generator) -> pa.Table:
    """Documents with a fixed number of exact and near duplicates, so the
    pair-finding work varies little from seed to seed."""
    word_p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    word_p /= word_p.sum()
    kinds = ["dup"] * N_EXACT_DUP + ["near"] * N_NEAR_DUP
    kinds += ["fresh"] * (N_DOCUMENTS - len(kinds))
    kinds = ["fresh"] + list(rng.permutation(kinds[:-1]))
    texts: list[str] = []
    for kind in kinds:
        if kind == "dup":
            texts.append(texts[rng.integers(0, len(texts))])
        elif kind == "near":  # a tenth of the words replaced
            words = texts[rng.integers(0, len(texts))].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = VOCAB[rng.choice(len(VOCAB), p=word_p)]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[i] for i in rng.choice(len(VOCAB), n_words, p=word_p)))
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate_tables(out_dir: str, seed: int) -> None:
    """Write ``{table}.parquet`` for every table in :data:`TABLES`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orders, lineitem = _orders_lineitem(rng)
    tables = {
        "customer": _customer(rng),
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
