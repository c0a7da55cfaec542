"""Seeded input tables for the curation workload.

Writes the three tables the curation queries read (documents,
embeddings, events) as one parquet file each, in the column layout the
package's queries expect. Same seed, same bytes of content.

The default size reproduces the row counts and value distributions of
the sf0.1 tables bench.py reads, as measured from those files (seed 42):

- documents: 5,000 rows. A text is 10-100 words (uniform) drawn
  uniformly from a 30-word vocabulary; 5.1 % of the docs are an earlier
  doc's text plus the word ``dup`` (near duplicates) and 0.16 % an exact
  copy of an earlier doc. ``lang`` is ``en`` for 41 % of the docs and
  ``de``/``es``/``fr``/``zh`` for ~15 % each; ``source`` cycles through
  ``src0``-``src19``; ``n_chars`` is the text length.
- embeddings: 2,000 unit vectors of 64 float32s in uniformly random
  directions; ``label`` is uniform over 0-9 and independent of the
  vector (per-label means are within sampling noise of 0).
- events: 100,000 rows over 30 days from 2024-01-01, in time order;
  ``user_id`` uniform over 1,500 users, ``event_type`` uniform over five
  types, ``value`` exponential with mean 50 rounded to cents, ``props``
  ``{"k": j}`` with ``j`` uniform over 0-99.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
NEAR_DUP, EXACT_DUP = 0.051, 0.0016

# rows per table: documents, embeddings, events
SIZES = {"default": (5_000, 2_000, 100_000), "tiny": (80, 60, 1_000)}


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        r = rng.random()
        if texts and r < EXACT_DUP:
            texts.append(texts[rng.integers(len(texts))])
        elif texts and r < EXACT_DUP + NEAR_DUP:
            texts.append(texts[rng.integers(len(texts))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n), pa.int32()),
    })


def _events(rng, n: int, users: int = 1_500) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[j]
                       for j in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
    })


def write_tables(out_dir: str, seed: int, size: str = "default") -> None:
    """Write the three tables under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_docs, n_emb, n_ev = SIZES[size]
    for name, table in (
        ("documents", _documents(rng, n_docs)),
        ("embeddings", _embeddings(rng, n_emb)),
        ("events", _events(rng, n_ev)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
