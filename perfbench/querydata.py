"""Seeded input tables for the ``query_suite`` workload.

The 12 suite queries read ``<dir>/<table>.parquet`` for five tables. This
module writes those tables from a seed with numpy and pyarrow, in the
column types the queries and their DuckDB oracles expect, so the suite
needs no data from outside the benchmark. Text is ASCII only, so the
regex classes the queries use mean the same in Java and in RE2.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# About twice the sf0.01 test tables (TESTDATA.md). A warm pass costs ~6.5 s on 4
# cores at this size and ~8 s at 2.5x it: Spark's per-job latency, not the
# rows, dominates; the larger size only lengthens the cold first pass.
SIZES = {"events": 20_000, "users": 300, "lineitem": 30_000, "customer": 1_500,
         "documents": 600, "embeddings": 600}
EMBED_DIM = 64

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TECH = ("key agg row scan slow fast table value part hash sort window merge "
        "batch stream filter join group order column query line data customer "
        "vector spark small big").split()
STOPWORDS = {
    "en": "the and of to in is that it was for".split(),
    "de": "der die und das ist nicht mit ein von zu".split(),
    "fr": "le la et les des est un une que dans".split(),
    "es": "el la de que los es un una por con".split(),
    "it": "il la di che e un una per del non".split(),
    "pt": "o a de que os um uma para com nao".split(),
}
PUNCT = [".", ",", ";", ":", "!", "?", "-", "=", "v2", "x1", "42", "3.14"]


def _events(rng: np.random.Generator) -> pa.Table:
    n = SIZES["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (secs * 1e6).astype("int64").astype("timedelta64[us]"))
    value = np.round(rng.exponential(50.0, n) + 0.01, 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["users"], n, dtype="int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = SIZES["lineitem"]
    days = rng.integers(0, 3650, n)
    ship = (np.datetime64("1992-01-01", "D") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, 2000, n, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, 100, n, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype="int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _customer(rng: np.random.Generator) -> pa.Table:
    n = SIZES["customer"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n)]),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents in six languages (so ``lang_id`` has work),
    with ~5% case/whitespace variants of an earlier document (exact
    duplicates after normalisation) and ~15% one-word edits of an earlier
    document (near duplicates for ``minhash_neardup``)."""
    langs = list(STOPWORDS)
    texts: list[str] = []
    doc_langs: list[str] = []
    for i in range(SIZES["documents"]):
        r = rng.random()
        if i > 10 and r < 0.05:
            j = int(rng.integers(0, i))
            texts.append("  " + texts[j].upper().replace(" ", "   ", 3) + " ")
            doc_langs.append(doc_langs[j])
            continue
        if i > 10 and r < 0.20:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = TECH[int(rng.integers(0, len(TECH)))]
            texts.append(" ".join(words))
            doc_langs.append(doc_langs[j])
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        vocab = TECH + STOPWORDS[lang] * 2 + PUNCT
        n_words = int(rng.integers(12, 90))
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), n_words)))
        doc_langs.append(lang)
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(doc_langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = SIZES["embeddings"]
    centers = rng.normal(0, 1, (8, EMBED_DIM))
    labels = rng.integers(0, 8, n)
    vecs = (centers[labels] + rng.normal(0, 0.7, (n, EMBED_DIM))).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })


TABLES = {"events": _events, "lineitem": _lineitem, "customer": _customer,
          "documents": _documents, "embeddings": _embeddings}


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table as ``out_dir/<name>.parquet`` (one row group, like
    the sf test tables); returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, (name, make) in enumerate(TABLES.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(make(np.random.default_rng([seed, i])), path)
        total += os.path.getsize(path)
    return total
