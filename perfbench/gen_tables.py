"""Seeded generator of the analytics tables the registry queries read.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the schemas,
value domains and key relationships of the repository's test data, so
every registry query and its DuckDB oracle run on it unchanged. Row
counts scale linearly with ``scale`` (1.0 is 60k lineitems).

Documents draw words from a small vocabulary, and one in twenty is a
near-duplicate of an earlier document (its text plus `` dup``), so the
dedup and similarity queries find pairs. Embeddings are random 64-d
unit vectors with ten labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]  # ~40% en, as in the test data
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(10000 * scale))
    n_doc = max(100, int(500 * scale))
    n_vec = max(100, int(500 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995_US + order_days * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _ts(
                _EPOCH_1995_US + (order_days[l_order] + rng.integers(1, 122, n_line)) * _DAY_US
            ),
        }
    )
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev)),
            "user_id": rng.integers(0, n_cust, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 560.0), 2),  # long tail
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype("int32"),
        }
    )
    return out


def write(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
