"""Seeded tables for `ops_batch`, in the star-schema shapes the engine's
operator inventory reads (`lineitem`, `part`, `supplier`, `documents`).

`lineitem` is above the engine's dimension-size gate (65,536 rows), so the
queries over it take their distributed paths. A share of the documents are
edited copies of earlier ones, so the near-duplicate operators find pairs.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FULL = {"lineitem": 100_000, "part": 2_000, "supplier": 100, "documents": 800}
WARM = {"lineitem": 2_000, "part": 200, "supplier": 20, "documents": 80}

ADJ = ["small", "red", "blue", "hot", "cold", "green", "large", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big customer query "
         "order group filter stream vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.42, 0.15, 0.14, 0.14, 0.15]


def part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [TYPES[t] for t in rng.integers(0, len(TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def supplier(rng, n):
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    })


def lineitem(rng, n, n_part, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    base = datetime.datetime(1995, 1, 1)
    days = rng.integers(1, 2500, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array([base + datetime.timedelta(days=int(d)) for d in days],
                               pa.timestamp("us")),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            # an edited copy of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(dir_, seed, sizes):
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "part": part(rng, sizes["part"]),
        "supplier": supplier(rng, sizes["supplier"]),
        "lineitem": lineitem(rng, sizes["lineitem"], sizes["part"], sizes["supplier"]),
        "documents": documents(rng, sizes["documents"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))


def write_tables(work, seed):
    """Measured tables in `<work>/data`; small warm-up tables, from another
    seed stream, in `<work>/warm`."""
    write(os.path.join(work, "data"), seed, FULL)
    write(os.path.join(work, "warm"), seed + 1_000_003, WARM)
