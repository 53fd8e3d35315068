"""Seeded input tables for the benchmark.

Writes `documents`, `embeddings` and `events` parquet files with the
schemas graft's keys read (the shapes of the sf0.1 synthetic set):

- documents(doc_id int64, text string, lang string, source string,
  n_chars int64): texts drawn from a 30-word vocabulary, with one
  document in twenty a copy of an earlier one tagged " dup", so the
  dedup and decontamination keys find work;
- embeddings(vec_id int64, embedding list<float32>[64], label int32):
  unit-norm Gaussian vectors with ten labels;
- events(event_id int64, ts timestamp[us], user_id int64,
  event_type string, value float64, props string): time-ordered events
  over 30 days.

The same (seed, scale) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])


def documents(rng, n):
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 96, size=n)
    texts = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def events(rng, n, users=1500):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, size=n))
    value = np.round(rng.exponential(60.0, size=n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def write_tables(out_dir, seed, docs, vecs, evts):
    """Write the three tables into `out_dir` (atomically, via a temp dir)."""
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in (("documents", documents(rng, docs)),
                        ("embeddings", embeddings(rng, vecs)),
                        ("events", events(rng, evts))):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)
