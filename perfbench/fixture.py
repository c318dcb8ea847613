"""Seeded generator of the engine's analytics tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the column types and value shapes of the repository's
reference fixture: money columns with two decimals, TPC-H-style keys and
categories, an append-ordered ``events`` table whose ``user_id`` covers a
tenth of the customers, documents over a 30-word vocabulary with about 5%
near-duplicates, and unit-norm 64-dimensional float embeddings with ten
weakly clustered labels. The same seed gives byte-identical inputs.

    python3 perfbench/fixture.py --seed 7 --sf 0.01 --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EMBED_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span: int, n: int, offset: int = 0) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, span, n) + offset) * _DAY_US


def events_table(
    rng: np.random.Generator, n: int, n_users: int, first_id: int = 0
) -> pa.Table:
    """``events`` rows: monotone ids and timestamps, ``user_id`` uniform
    over ``n_users`` (the fixture references a tenth of the customers),
    exponential values, JSON ``props``."""
    gaps = rng.exponential(30 * 86_400 / max(n, 1), n) * 1e6
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("int64")
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props),
        }
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2000)
    nations = np.arange(25)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nations, pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in nations]),
                "n_regionkey": pa.array(nations % 5, pa.int32()),
            }
        ),
        "customer": customer_table(rng, n_cust),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
    }
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": pa.array(_days(rng, 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(_days(rng, 2499, n_line, offset=1), pa.timestamp("us")),
        }
    )
    out["events"] = events_table(rng, max(int(1_000_000 * sf), 1000), max(n_cust // 10, 10))
    out["documents"] = _documents(rng, max(int(50_000 * sf), 500))
    out["embeddings"] = _embeddings(rng, 500 if sf <= 0.01 else 2000)
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write_tables(a.seed, a.sf, a.out)
