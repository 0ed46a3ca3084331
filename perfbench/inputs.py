"""Seeded benchmark inputs, written with pyarrow outside the program
under test.

The tables follow the schema and value ranges of the engine's
TPC-H-ish star schema (``sources.tables.TABLES``): the same column
names and physical types, the same categorical domains, the same
document vocabulary. Everything derives from one
``numpy.random.Generator`` seeded by the workload seed, so a seed
always gives byte-identical parquet inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The document vocabulary of the engine's generated corpus.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _edit(rng, toks: list[str]) -> list[str]:
    """A light edit: one or two token substitutions, deletions or
    insertions, so the copy stays a near-duplicate of its source."""
    out = list(toks)
    for _ in range(int(rng.integers(1, 3))):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(out)))
        if op == 0:
            out[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif op == 1 and len(out) > 10:
            del out[i]
        elif len(out) < 100:
            out.insert(i, VOCAB[int(rng.integers(0, len(VOCAB)))])
    return out


def write_documents(out_dir: str, rng, n_docs: int, near_dup_share: float) -> None:
    """``n_docs`` documents of 10-100 tokens; ``near_dup_share`` of them
    are light edits of an earlier document. The seed picks the words,
    the order of the lengths and which documents are edits, but not
    the set of lengths nor the number of edits, so every seed gives
    the same amount of work."""
    lengths = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    n_dups = round(near_dup_share * n_docs)
    dup = np.zeros(n_docs, dtype=bool)
    dup[1 + rng.choice(n_docs - 1, n_dups, replace=False)] = True
    texts: list[list[str]] = []
    for i in range(n_docs):
        if dup[i]:
            texts.append(_edit(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i])])
    text = [" ".join(t) for t in texts]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_WEIGHTS).tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def write_star_schema(out_dir: str, rng, sf: float, n_embeddings: int) -> None:
    """region … lineitem, events and embeddings at scale factor ``sf``
    (sf 0.01: 1.5k customers, 15k orders, ~60k line items, 10k events)."""
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_cust = int(150_000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist()),
    })
    n_supp = int(10_000 * sf)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    n_part = int(200_000 * sf)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })
    n_ord = int(1_500_000 * sf)
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist()),
    })
    lines = np.clip(rng.poisson(4.0, n_ord), 1, 17)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(order_days, lines) + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _ts(_EPOCH_1995 + ship * _DAY_US),
    })
    n_ev = int(1_000_000 * sf)
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev
        ).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    labels = rng.integers(0, 10, n_embeddings)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_embeddings, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
