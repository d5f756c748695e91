"""Seeded generator for the catalog tables the benchmark's queries read.

The tables follow the repository's TPC-H-ish star schema plus the
`documents` corpus (column names and parquet types as the catalog
expects). `scale` plays the role of the TPC-H scale factor: 1.0 gives
150,000 orders, 600,000 line items and 5,000 documents. A share of the
documents are near-copies of earlier ones, so the dedup queries find
pairs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "orders", "lineitem", "documents"]

VOCAB = ("a the key agg row scan slow fast table value part hash batch "
         "window spark order data column join small line customer query "
         "big filter sort merge stream group vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _docs(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.04:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(8, 101))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, scale):
    """Write the tables as `<out_dir>/<name>.parquet`; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(15_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_line = 4 * n_ord
    n_docs = max(200, int(5_000 * scale))
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, days, n_ord) * DAY_US,
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, days + 95, n_line) * DAY_US,
                                   pa.timestamp("us")),
        }),
        "documents": _docs(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
