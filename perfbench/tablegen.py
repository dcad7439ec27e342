"""Seeded tables for the query_mix workload.

The engine's query registry reads a TPC-H-like star schema plus a text
corpus and an embedding corpus (`lineitem`, `orders`, `customer`,
`documents`, `embeddings`). This writes those five tables as parquet with
the column names and types the registry's readers expect. Documents come
from a small vocabulary, and a share of them copy passages of, or are
near-copies of, earlier documents, so the dedup queries find something.
"""
import datetime
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the spark data query table row column key value hash join sort "
         "scan filter group agg window stream batch merge part line order "
         "customer vector fast slow big small index plan stage task shuffle "
         "node edge graph road city map tag").split()
LANGS = ("en", "en", "en", "zh", "fr", "es", "de")


def _days(rnd, n, start=datetime.datetime(1992, 1, 1), span=3650):
    return [start + datetime.timedelta(days=rnd.randrange(span))
            for _ in range(n)]


def write(seed, out_dir, n_orders=5000, n_customers=1500, n_docs=400,
          n_vectors=400, dim=64):
    rnd = random.Random(seed)
    nrng = np.random.default_rng(seed)

    lines = []
    for o in range(n_orders):
        for ln in range(1, rnd.randint(1, 7) + 1):
            lines.append((o, ln))
    n = len(lines)
    lineitem = pa.table({
        "l_orderkey": pa.array([o for o, _ in lines], pa.int64()),
        "l_partkey": pa.array(nrng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(nrng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array([ln for _, ln in lines], pa.int32()),
        "l_quantity": pa.array(nrng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(nrng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(nrng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(nrng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([rnd.choice("ANR") for _ in range(n)]),
        "l_linestatus": pa.array([rnd.choice("OF") for _ in range(n)]),
        "l_shipdate": pa.array(_days(rnd, n), pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(nrng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": pa.array([rnd.choice("OFP") for _ in range(n_orders)]),
        "o_totalprice": pa.array(np.round(nrng.uniform(1000, 400000, n_orders), 2)),
        "o_orderdate": pa.array(_days(rnd, n_orders), pa.timestamp("us")),
        "o_orderpriority": pa.array([rnd.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
            for _ in range(n_orders)]),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_customers)]),
        "c_nationkey": pa.array(nrng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": pa.array(np.round(nrng.uniform(-999.99, 9999.99,
                                                    n_customers), 2)),
        "c_mktsegment": pa.array([rnd.choice(
            ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
            for _ in range(n_customers)]),
    })

    texts = []
    for i in range(n_docs):
        r = rnd.random()
        if texts and r < 0.08:            # near-copy: a few words changed
            words = rnd.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rnd.randrange(len(words))] = rnd.choice(WORDS)
        elif texts and r < 0.16:          # shares a passage with another doc
            src = rnd.choice(texts).split()
            k = rnd.randrange(max(1, len(src) - 12))
            words = ([rnd.choice(WORDS) for _ in range(rnd.randint(5, 30))]
                     + src[k:k + 12]
                     + [rnd.choice(WORDS) for _ in range(rnd.randint(5, 30))])
        else:
            words = [rnd.choice(WORDS) for _ in range(rnd.randint(10, 90))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rnd.choice(LANGS) for _ in range(n_docs)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    v = nrng.standard_normal((n_vectors, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vectors), pa.int32()),
    })

    for name, t in (("lineitem", lineitem), ("orders", orders),
                    ("customer", customer), ("documents", documents),
                    ("embeddings", embeddings)):
        pq.write_table(t, "%s/%s.parquet" % (out_dir, name))
    return {"lineitem": n, "orders": n_orders, "customer": n_customers,
            "documents": n_docs, "embeddings": n_vectors}
