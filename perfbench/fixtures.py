"""Seeded input tables for the query_board workload.

Writes `events`, `documents` and `embeddings` as parquet, with the schemas
and value shapes of FIXTURES.md, at the row counts given (the sf0.01
shape by default): the same seed gives the same bytes.

  events      event_id, ts (tz-less TIMESTAMP, us), user_id, event_type,
              value, props ('{"k": n}')
  documents   doc_id, text (words of a 30-word vocabulary that holds the
              BM25 terms; 1 in 20 a near-duplicate of an earlier one),
              lang, source, n_chars
  embeddings  vec_id, embedding (64 unit-norm float32), label (0-9)
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge order vector line "
         "table data agg value key stream window spark a group part big sort query fast the").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
T0_US = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 10**6


def events(rng, n, users):
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # A near-duplicate of an earlier document: one word changed.
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write(out_dir, seed, n_events=10000, n_users=150, n_docs=500, n_vecs=500):
    """Write the three tables under out_dir; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"events": events(rng, n_events, n_users), "documents": documents(rng, n_docs),
              "embeddings": embeddings(rng, n_vecs)}
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, name + ".parquet")
        pq.write_table(t, paths[name])
    return paths
