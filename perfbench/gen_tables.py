"""Seeded table generator for the registry workload.

``make_tables(out_dir, seed)`` writes the ten tables the registry
queries read (``region nation customer supplier part orders lineitem
events documents embeddings``, one ``<name>.parquet`` file each) with
the column names, types and row counts of the project's TPC-H-ish
sf0.001 test layout (6,000 lineitems, 500 documents, 500 embeddings,
1,000 events).

Value domains follow the same layout: a 30-word vocabulary in five
languages with planted near-duplicate documents, 64-dim unit
embeddings clustered around ten labels, and five event types over
fifteen users in January 2024. The same seed gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "scan column window order sort part agg value line key join merge group"
    " query a vector hash slow stream filter fast the batch spark table small"
    " data big customer row"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PART_ADJ = ["cold", "small", "large", "blue", "new", "hot", "red", "old"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "anvil", "ring", "nut", "pipe"]
PART_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _write(out_dir: str, name: str, cols: dict, schema: list) -> None:
    pq.write_table(
        pa.table(cols, schema=pa.schema(schema)),
        os.path.join(out_dir, f"{name}.parquet"),
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int) -> dict:
    """Write the ten tables; return the larger ones' row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line = 1500, 6000
    n_ev, n_doc, n_emb = 1000, 500, 500

    _write(out_dir, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    _write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())])
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64())])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    }, [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    d0, span_days = dt.datetime(1995, 1, 1), 2403  # through 2001-08-01
    odays = rng.integers(0, span_days + 1, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array([_us(d0 + dt.timedelta(days=int(x))) for x in odays],
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string())])

    lok = rng.integers(0, n_ord, n_line)
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = [_us(d0 + dt.timedelta(days=int(odays[o]) + int(s)))
            for o, s in zip(lok, rng.integers(1, 122, n_line))]
    _write(out_dir, "lineitem", {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": lpart.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart] * rng.uniform(0.9, 2.5, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }, [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))])

    # events: monotone timestamps over January 2024, 15 users
    t0 = _us(dt.datetime(2024, 1, 1))
    gaps = rng.exponential(30 * 86400 * 1e6 / n_ev, n_ev).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])

    # documents: random-vocabulary text, ~5% planted near-duplicates
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])

    # embeddings: unit vectors around ten label centroids
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0.0, 1.0, (10, 64))
    vec = cent[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }, [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}
