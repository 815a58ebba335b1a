"""Seeded synthetic tables in the repo's test-data layout (TESTDATA.md).

The shapes follow the driver tables the parity registry is written
against: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), a one-month `events` table and a `documents`
corpus over a flat 31-word vocabulary with ~2% near-duplicate and ~0.2%
exact-duplicate texts. Sizes are parameters; the same seed and sizes
always give the same bytes of data.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark batch line column order small sort fast value scan hash slow "
    "group agg filter query big key window row part table stream merge "
    "data a join shuffle plan cache skew"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO", "ECONOMY"]
ADJ = ["large", "hot", "blue", "red", "small", "green", "dim", "new"]
NOUN = ["ring", "bolt", "case", "box", "cap", "cell", "disk", "pin"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
DAY_US = 86_400_000_000

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _docs(rng: np.random.Generator, n_doc: int) -> list[str]:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.022:
            # near-duplicates copy a document of the same source
            # (doc_id mod 20), so source-blocked pair search finds them
            base = texts[i - 20 * int(rng.integers(1, i // 20 + 1))].split()
            for _ in range(int(rng.integers(1, 4))):
                base[int(rng.integers(0, len(base)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return texts


def generate(outdir: str, seed: int, n_orders: int, n_events: int, n_docs: int) -> dict[str, int]:
    """Write every table of TABLES under ``outdir``; return row counts."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    n_part = max(20, n_orders * 2 // 15)
    n_users = max(20, n_events // 60)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    pid = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pid, pa.int64()),
        "p_name": [f"{ADJ[i % 8]} {NOUN[(i // 8) % 8]}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{i % 20 + 1}" for i in range(n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pid % 1000) * 0.1, 2),
    })
    epoch95 = np.datetime64("1995-01-01", "us").astype("int64")
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate_day = rng.integers(0, span_days + 1, n_orders)
    okey = np.arange(n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(epoch95 + odate_day * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    per_order = rng.poisson(4.0, n_orders)
    l_okey = np.repeat(okey, per_order)
    n_li = len(l_okey)
    linenum = np.concatenate([np.arange(c) % 7 + 1 for c in per_order if c])
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["R", "N", "A"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(epoch95 + (np.repeat(odate_day, per_order) + rng.integers(1, 121, n_li)) * DAY_US),
    })
    epoch24 = np.datetime64("2024-01-01", "us").astype("int64")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(epoch24 + np.sort(rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.uniform(0, 560, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = _docs(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
