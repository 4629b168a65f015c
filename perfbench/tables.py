"""Seeded generator for the relational mix's tables.

Writes the ten parquet tables the registry queries read (``region nation
customer supplier part orders lineitem events documents embeddings``) with
the column names, types and value ranges of the engine's TPC-H-ish test
tables, scaled by ``sf`` (``sf=0.1`` gives 600k lineitem rows). Every
filter constant the measured queries use (segment BUILDING, region ASIA,
the 1996-03-15 cut-off, the 300-unit quantity threshold, users below 30,
the first 600 event minutes, vec_id 0) selects a non-empty subset.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01

WORDS = (
    "a batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window agg index shard block log event chain token sink "
    "source frontier flush state"
).split()


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(25, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_users = max(60, int(15_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
        }
    )
    retail = _cents(900.0 + (np.arange(n_part) % 1000) / 10.0)
    adjectives = ["large", "hot", "blue", "small", "green", "cold", "red", "tiny"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "wire", "plate", "screw"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(np.array(adjectives)[rng.integers(0, 8, n_part)], " "),
                    np.array(nouns)[rng.integers(0, 8, n_part)],
                ).astype(object),
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(retail),
        }
    )
    order_day = rng.integers(0, ORDER_DAYS + 1, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500_000.0, n_ord))),
            "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_partkey = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(l_partkey),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_cents(qty * retail[l_partkey])),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(
                EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, n_li)) * DAY_US
            ),
        }
    )
    gaps = rng.exponential(30 * DAY_US / max(n_events, 1), n_events)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_events),
            "value": pa.array(_cents(rng.exponential(50.0, n_events))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, words.size)])
        else:
            toks = list(words[rng.integers(0, words.size, int(rng.integers(12, 60)))])
        texts.append(" ".join(toks))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, ["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * n_vecs + 1, 64, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
