"""Seeded input tables for the benchmark.

The tables have the schemas and value distributions of the program's
sf0.1 test tables (`events`, `documents`, `embeddings`), so the
program's table loaders and feed synthesis (`graft.sources.Tables`)
run on them unchanged. The same seed always writes the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated data changes, so cached oracle digests
# computed over older inputs are never reused
VERSION = 3

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def events(rng, n=100_000, users=1500):
    gaps_us = rng.exponential(25.9e6, n).astype(np.int64) + 1
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = (start_us + np.cumsum(gaps_us)).astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n=1000, sources=20, dup_share=0.05):
    # each document draws its words from its own subset of the
    # vocabulary, so unrelated documents rarely land within simhash or
    # minhash reach of each other and the dedup rows' work is set by the
    # planted copies below, the same for every seed
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        words = vocab[rng.choice(len(vocab), int(rng.integers(6, 13)), replace=False)]
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    # planted near-duplicates: a copy of an earlier original plus one
    # marker word, the shape of the test tables' near-dup plants. Copies
    # are never copied again, so every seed plants clusters of the same
    # depth and the dedup rows do the same number of rounds.
    dups = set(rng.choice(np.arange(1, n), int(n * dup_share), replace=False).tolist())
    originals = [i for i in range(n) if i not in dups]
    for i in sorted(dups):
        below = originals[:np.searchsorted(originals, i)]
        texts[i] = texts[below[int(rng.integers(0, len(below)))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % sources}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n=2000, dim=64, labels=10):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n, dtype=np.int32)),
    })


def write_tables(out_dir, seed, names):
    """Write the named tables as `<out_dir>/<name>.parquet`, one file
    each (the test tables' layout). Each table draws from its own
    stream of the seed, so adding a table never changes another."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events, "documents": documents, "embeddings": embeddings}
    for i, name in enumerate(sorted(makers)):
        if name in names:
            rng = np.random.default_rng([seed, i])
            pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))
