"""Seeded input corpus with the shapes and value domains of the star-schema
test tables (region nation customer orders lineitem events documents
embeddings). The same seed writes the same tables. Each table is one parquet
file with one row group under <dir>/<table>.parquet/, the layout
graft.sources.Readers.table fans out for local sessions. Timestamps are
written without a time zone, so Spark reads them as TIMESTAMP_NTZ."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
                  "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
                  "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
                  "the", "value", "vector", "window"])
DAY_US = 86400 * 1000000


def _days(start, offsets):
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("int64") * np.timedelta64(DAY_US, "us"), pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi, n) / 100.0


def generate(out_dir, seed, orders, customers, events, users, docs, vectors):
    rng = np.random.default_rng(seed)

    def save(name, cols):
        path = os.path.join(out_dir, name + ".parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": ["NATION_%d" % i for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {"c_custkey": np.arange(customers, dtype="int64"),
                      "c_name": ["Customer#%09d" % i for i in range(customers)],
                      "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
                      "c_acctbal": _cents(rng, -99999, 999981, customers),
                      "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                                  "MACHINERY"], customers)})
    save("orders", {"o_orderkey": np.arange(orders, dtype="int64"),
                    "o_custkey": rng.integers(0, customers, orders),
                    "o_orderstatus": rng.choice(["F", "O", "P"], orders),
                    "o_totalprice": _cents(rng, 100000, 50000000, orders),
                    "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, orders)),
                    "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                   "5-LOW"], orders)})
    # 1..7 lines per order (mean 4)
    per = rng.integers(1, 8, orders)
    n = int(per.sum())
    first = np.repeat(np.cumsum(per) - per, per)
    save("lineitem", {"l_orderkey": np.repeat(np.arange(orders, dtype="int64"), per),
                      "l_partkey": rng.integers(0, orders // 8 + 1, n),
                      "l_suppkey": rng.integers(0, orders // 150 + 1, n),
                      "l_linenumber": pa.array(np.arange(n) - first + 1, pa.int32()),
                      "l_quantity": rng.integers(1, 51, n).astype("float64"),
                      "l_extendedprice": _cents(rng, 90000, 10500000, n),
                      "l_discount": rng.integers(0, 11, n) / 100.0,
                      "l_tax": rng.integers(0, 9, n) / 100.0,
                      "l_returnflag": rng.choice(["A", "N", "R"], n),
                      "l_linestatus": rng.choice(["F", "O"], n),
                      "l_shipdate": _days("1995-01-02", rng.integers(0, 2500, n))})
    # events: 30 days from 2024-01-01, ts increasing with event_id; values are
    # exponential with mean 40, in whole cents and never 0
    step = 30 * DAY_US // events
    ts = np.datetime64("2024-01-01", "us") + (np.arange(events) * step + rng.integers(0, step, events)) \
        * np.timedelta64(1, "us")
    save("events", {"event_id": np.arange(events, dtype="int64"),
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "user_id": rng.integers(0, users, events),
                    "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], events),
                    "value": (np.floor(-np.log1p(-rng.random(events)) * 4000) + 1) / 100.0,
                    "props": ['{"k": %d}' % k for k in rng.integers(0, 100, events)]})
    # documents: 10..100 words over a 31-word vocabulary. One doc in ten is a
    # near copy (one word in twenty replaced) of one of the five docs before
    # it, one in fifty an exact copy, so the dedup operators find pairs.
    words = [rng.integers(0, len(VOCAB), k) for k in rng.integers(10, 101, docs)]
    kind = rng.integers(0, 50, docs)
    back = rng.integers(1, 6, docs)
    for i in range(5, docs):
        if kind[i] < 5:
            w = words[i - back[i]].copy()
            if kind[i] > 0:
                swap = rng.random(len(w)) < 0.05
                w[swap] = rng.integers(0, len(VOCAB), int(swap.sum()))
            words[i] = w
    text = [" ".join(VOCAB[w]) for w in words]
    save("documents", {"doc_id": np.arange(docs, dtype="int64"), "text": text,
                       "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], docs),
                       "source": ["src%d" % s for s in rng.integers(0, 20, docs)],
                       "n_chars": np.array([len(t) for t in text], dtype="int64")})
    # embeddings: 64-dim unit vectors
    v = rng.standard_normal((vectors, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    save("embeddings", {"vec_id": np.arange(vectors, dtype="int64"),
                        "embedding": pa.array(list(v), pa.list_(pa.float32())),
                        "label": pa.array(rng.integers(0, 10, vectors), pa.int32())})
