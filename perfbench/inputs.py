"""Seeded input generation for the benchmark workloads.

Every table is built with NumPy from one seed and written as parquet with
pyarrow, so the program under test only ever sees generated files. The
schemas follow the TPC-H-ish star schema and the ``documents`` /
``embeddings`` corpora the package's queries read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    (
        "a the batch part spark line column order small sort fast value scan "
        "hash slow group agg filter query big key window row table stream "
        "merge data join vector customer plan stage task shuffle spill cache "
        "index level nest pack list struct field array map"
    ).split()
)
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
STATUS = np.array(["O", "F", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
FLAGS = np.array(["A", "N", "R"])
EPOCH_US = 694_224_000_000_000  # 1992-01-01 in microseconds

# Key offset between the copies of the replicated orders/lineitem tables:
# disjoint key spaces, unchanged list sizes.
REPLICA_KEY_OFFSET = 1_000_000_000


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


@dataclass(frozen=True)
class OrdersFacts:
    """Ground truth of the generated orders/lineitem tables, computed in
    NumPy alongside them, that the output checks compare against."""

    n_leaf: int
    n_orders: int
    quantity_sum: float
    extendedprice_sum: float
    orders_with_big_qty: int


def write_tpch(out_dir: str, seed: int, n_orders: int, replicas: int) -> OrdersFacts:
    """Write orders/lineitem parquet under ``out_dir``.

    ``n_orders`` base orders (1..7 line items each, line numbers unique per
    order) are replicated ``replicas`` times with a key offset per copy.
    """
    rng = np.random.default_rng(seed)
    o_cust = rng.integers(1, max(n_orders // 10, 10) + 1, n_orders).astype(np.int64)
    o_status = rng.choice(STATUS, n_orders)
    o_price = np.round(rng.uniform(900.0, 500_000.0, n_orders), 2)
    o_date = EPOCH_US + rng.integers(0, 2400, n_orders) * 86_400_000_000
    o_prio = rng.choice(PRIORITY, n_orders)

    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    li_order_idx = np.repeat(np.arange(n_orders), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_price = np.round(l_qty * rng.uniform(900.0, 2000.0, n_li), 2)
    l_disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    l_tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    l_flag = rng.choice(FLAGS, n_li)
    l_status = rng.choice(STATUS[:2], n_li)
    l_ship = o_date[li_order_idx] + rng.integers(1, 122, n_li) * 86_400_000_000
    l_part = rng.integers(1, 20_001, n_li).astype(np.int64)
    l_supp = rng.integers(1, 1_001, n_li).astype(np.int64)

    orders_parts, li_parts = [], []
    for r in range(replicas):
        okeys = np.arange(1, n_orders + 1, dtype=np.int64) + r * REPLICA_KEY_OFFSET
        orders_parts.append(
            pa.table(
                {
                    "o_orderkey": okeys,
                    "o_custkey": o_cust,
                    "o_orderstatus": o_status,
                    "o_totalprice": o_price,
                    "o_orderdate": pa.array(o_date, pa.timestamp("us")),
                    "o_orderpriority": o_prio,
                }
            )
        )
        li_parts.append(
            pa.table(
                {
                    "l_orderkey": okeys[li_order_idx],
                    "l_partkey": l_part,
                    "l_suppkey": l_supp,
                    "l_linenumber": l_line,
                    "l_quantity": l_qty,
                    "l_extendedprice": l_price,
                    "l_discount": l_disc,
                    "l_tax": l_tax,
                    "l_returnflag": l_flag,
                    "l_linestatus": l_status,
                    "l_shipdate": pa.array(l_ship, pa.timestamp("us")),
                }
            )
        )
    _write(pa.concat_tables(orders_parts), os.path.join(out_dir, "orders.parquet"))
    _write(pa.concat_tables(li_parts), os.path.join(out_dir, "lineitem.parquet"))

    big = np.zeros(n_orders, dtype=bool)
    big[li_order_idx[l_qty > 45]] = True
    return OrdersFacts(
        n_leaf=n_li * replicas,
        n_orders=n_orders * replicas,
        quantity_sum=float(l_qty.sum()) * replicas,
        extendedprice_sum=float(l_price.sum()) * replicas,
        orders_with_big_qty=int(big.sum()) * replicas,
    )


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 40..100 words, in blocks of five: an original,
    a copy with one word appended, a re-cased copy, and two more
    originals. Every near-duplicate cluster has the same shape for every
    seed, so the dedup operators' label-propagation loop runs the same
    number of rounds, and the copies' Jaccard is far above the 0.8
    threshold, so LSH banding cannot miss them."""
    texts: list[str] = []
    lengths = rng.integers(40, 101, n)
    for i in range(n):
        base = texts[i - i % 5] if i % 5 else ""
        if i % 5 == 1:
            texts.append(base + " " + str(rng.choice(WORDS)))
        elif i % 5 == 2:
            texts.append(base.upper())
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    return texts


def write_documents(path: str, seed: int, n_docs: int) -> str:
    """One request's document sample, ``doc_id`` 0..n-1."""
    rng = np.random.default_rng(seed)
    texts = _doc_texts(rng, n_docs)
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return _write(table, os.path.join(path, "documents.parquet"))


def make_embeddings(
    seed: int, n_vecs: int, dim: int = 64, n_labels: int = 16
) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``n_labels`` random centres (a clustered corpus)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.6, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def write_embeddings(path: str, vecs: np.ndarray, labels: np.ndarray) -> str:
    n, dim = vecs.shape
    table = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), dim
            ).cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return _write(table, os.path.join(path, "embeddings.parquet"))


def exact_topk(vecs: np.ndarray, query_ids: np.ndarray, k: int) -> list[set[int]]:
    """Exact cosine top-``k`` neighbour ids per query, excluding the query
    itself (the ranking ``similarity.cosine_topk`` computes)."""
    sims = vecs[query_ids] @ vecs.T
    sims[np.arange(len(query_ids)), query_ids] = -np.inf
    return [set(np.argsort(-row, kind="stable")[:k].tolist()) for row in sims]
