"""Seeded generator for the tables the curation sweep reads.

The ``__spark_entry__`` queries read ``events``, ``documents`` and
``embeddings`` parquet files from a directory. This module writes
tables of the same schema and shape (TPC-H-ish events stream, short
word-salad documents with ~5% near-duplicates, unit-norm 64-d vectors)
so the benchmark needs no data outside its checkout.

The data seed is fixed per size: the sweep's correctness reference
(``reference.json``) holds one row count and checksum per query for
exactly these tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per table; "full" matches the sf0.01 shapes, "tiny" is for tests
SIZES = {
    "full": {"events": 10_000, "users": 150, "documents": 500,
             "embeddings": 500},
    "tiny": {"events": 1_000, "users": 50, "documents": 100,
             "embeddings": 100},
}

_VOCAB = (
    "a the join hash row batch scan column customer filter small slow"
    " merge order vector line table data agg value key stream window"
    " spark part group big sort query fast"
).split()
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 86_400 * 1_000_000


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    ts = _EPOCH + (np.cumsum(gaps) / gaps.sum() * (_SPAN_US - 1)).astype(
        "timedelta64[us]"
    )
    return pa.Table.from_pandas(
        pd.DataFrame({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, users, n, dtype=np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.lognormal(3.5, 1.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }),
        preserve_index=False,
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.Table.from_pandas(
        pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        preserve_index=False,
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out_dir: str, size: str = "full") -> None:
    """Write events/documents/embeddings parquet files into out_dir."""
    n = SIZES[size]
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": _events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
