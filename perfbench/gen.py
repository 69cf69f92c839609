"""Deterministic input tables for the batch workloads.

The tables have the physical schema and value distributions of the
repository's reference testdata (TESTDATA.md): `events` (uniform
event_type, users scaled with rows, 30 days of ts in event-id order,
exponential `value`, `props` = {"k": 0..99}), `documents` (10-100 words
from a 30-word vocabulary, ~5% near-duplicates that copy an earlier text
and append " dup") and `embeddings` (64-dim unit vectors, label 0..9).

The same (table, rows, data seed) always yields the same rows, so the
expected query results in expected.json stay valid for every run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAY0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def events(n, seed):
    rng = np.random.default_rng([seed, 1])
    users = max(15, n * 3 // 200)  # 1,500 users per 100k rows
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + DAY0_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # TIMESTAMP(MICROS), as in the reference testdata's events.parquet,
        # so graft.queries.Tables.events takes the same timestamp branch
        # as on the reference tables
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(n, seed):
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(n, seed, dim=64):
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


MAKERS = {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(out_dir, sizes, seed):
    """Write each `name -> rows` table of `sizes` as `<out_dir>/<name>.parquet`
    (one row group, like the reference testdata), once: a directory that
    already holds a complete set is reused."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in sizes.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(MAKERS[name](rows, seed), tmp, row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
