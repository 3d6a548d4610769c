"""Deterministic input tables for the benchmark.

Writes the four tables the engine reads from a scale-factor directory
(`lineitem`, `documents`, `embeddings`, `events`), with the column names,
types and value ranges of the TPC-H-style tables the engine was built
against. Content depends only on the scale factor and DATA_SEED, never on
a workload seed: the workload seed permutes how inputs are presented, so
the pinned outputs hold for every seed.

Usage: python3 perfbench/datagen.py <scale_factor> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 44) + (["zh"] * 14) + (["es"] * 14) + (["de"] * 14) + \
    (["fr"] * 14)
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    orders, parts, supps = int(150_000 * sf), int(200_000 * sf), \
        int(10_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900, 2100, n) * qty, 2)
    ship = np.datetime64("1995-01-01") + rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": rng.integers(0, orders, n),
        "l_partkey": rng.integers(0, parts, n),
        "l_suppkey": rng.integers(0, supps, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def documents(rng, sf):
    n = int(50_000 * sf)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, sf):
    n, dim, labels = max(500, int(20_000 * sf)), 64, 10
    centers = rng.normal(0, 0.08, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vecs = centers[label] + rng.normal(0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": label})


def events(rng, sf):
    n, users = int(1_000_000 * sf), max(150, int(15_000 * sf))
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + \
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def main():
    sf, out = float(sys.argv[1]), sys.argv[2]
    os.makedirs(out, exist_ok=True)
    for i, (name, make) in enumerate([("lineitem", lineitem),
                                      ("documents", documents),
                                      ("embeddings", embeddings),
                                      ("events", events)]):
        rng = np.random.default_rng([DATA_SEED, i])
        pq.write_table(make(rng, sf), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
