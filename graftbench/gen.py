"""Seeded input generation: a lineitem-shaped table for the sync workloads,
and documents/embeddings shaped like the engine's corpus tables for the
LLM-pipeline workload. The same seed writes the same parquet."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row key part line order customer table column value query "
         "scan filter join group agg sort hash merge window stream batch spark "
         "vector big small fast slow").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DIM = 64
LABELS = 10


def lineitem(path, orders, seed):
    """~4 lines per order; (orderkey, linenumber) is unique, and partkey
    < 2^18, suppkey < 2^11 keep SyncFixtures' RecId arithmetic injective."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=orders)
    okey = np.repeat(np.arange(1, orders + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    ship0 = np.datetime64("1992-01-01")
    ship = ship0 + rng.integers(0, 2500, size=n).astype("timedelta64[D]")
    t = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 200000, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 2000, size=n, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), size=n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=pa.timestamp("us")),
    })
    pq.write_table(t, os.path.join(path, "lineitem.parquet"))
    return n


def corpus(path, docs, embs, seed):
    """Bag-of-words documents, ~5% of them a near copy of an earlier one
    (its text plus " dup"), and unit-norm embeddings clustered by label."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), type=pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    }), os.path.join(path, "documents.parquet"))

    centroids = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, size=embs)
    v = centroids[labels] + rng.normal(scale=1.5, size=(embs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(embs), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))
    return docs + embs
