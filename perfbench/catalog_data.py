"""Seeded generator of the operator-catalog tables.

Writes the five TPC-H-ish tables the catalog subset reads (lineitem,
orders, customer, events, documents) with the column names and parquet
types of the engine's query contract, at a fixed size (about 1/500 of
TPC-H sf1), so only the values depend on the seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 150, "orders": 1500, "events": 1000, "documents": 500}
TABLES = ["customer", "orders", "lineitem", "events", "documents"]
USERS = 15
WORDS = ("the a fast slow key order sort table scan merge part window small big "
         "hash join batch stream spark value row column data filter query line "
         "agg group vector customer").split()


def _ts(start, offsets_us):
    return (np.datetime64(start, "us") + offsets_us.astype("timedelta64[us]")).astype("datetime64[us]")


def generate(seed, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nc, no = SIZES["customer"], SIZES["orders"]
    day_us = 86_400_000_000

    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], nc).tolist(),
    })

    order_day = rng.integers(0, 2403, no)  # 1995-01-01 .. 2001-07-31
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(_ts("1995-01-01", order_day * day_us), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no).tolist(),
    })

    # about 2% of orders have no lines; the rest 1..7
    n_lines = np.where(rng.random(no) < 0.02, 0, rng.integers(1, 8, no))
    okey = np.repeat(np.arange(no, dtype=np.int64), n_lines)
    lineno = np.concatenate([np.arange(1, n + 1) for n in n_lines if n > 0]).astype(np.int32)
    nl = len(okey)
    ship_day = order_day[okey] + rng.integers(1, 122, nl)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 400, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 20, nl).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_ts("1995-01-01", ship_day * day_us), pa.timestamp("us")),
    })

    # events: distinct timestamps over 30 days, ids in time order, so no
    # (user_id, ts) pair repeats
    ne = SIZES["events"]
    offs = np.sort(rng.choice(30 * day_us, ne, replace=False))
    events = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(_ts("2024-01-01", offs), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, ne).astype(np.int64)),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], ne).tolist(),
        "value": np.round(rng.gamma(2.0, 50.0, ne) + 0.01, 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)],
    })

    # documents: random word sequences, 15% of them near-copies of an
    # earlier document with one to three words replaced
    nd = SIZES["documents"]
    texts = []
    for d in range(nd):
        if d > 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[int(w)] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 91)))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], nd).tolist(),
        "source": ["src%d" % s for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              "events": events, "documents": documents}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return {name: t.num_rows for name, t in tables.items()}
