"""Seeded input corpus for the ``llm_curation`` workload.

Writes the three tables the curation keys read (``documents``,
``embeddings``, ``events``) as one parquet file each, with the schemas the
package's catalog expects (see ``kafka_hadoop_consumer_spark/catalog.py``).
Row counts are fixed; only the content depends on the seed, so every seed
costs the same amount of work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_VECS = 500
N_EVENTS = 10_000
N_USERS = 150
DIM = 64
N_LABELS = 10
# near-duplicate documents: copies of an earlier document with a few
# tokens replaced, so the dedup keys have real candidate pairs
DUP_SHARE = 0.06

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.44, 0.13, 0.15, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
TS0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
SPAN_NS = 30 * 86_400 * 10**9

TABLES = ("documents", "embeddings", "events")


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), size=int(rng.integers(1, 3))):
                toks[int(j)] = "dup"
        else:
            toks = list(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=N_DOCS, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=N_VECS)
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    ts = np.sort(rng.integers(0, SPAN_NS, size=N_EVENTS)) + TS0_NS
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=N_EVENTS)]
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.random(N_EVENTS) * 50, 2), pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seeded tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, make in (("documents", _documents), ("embeddings", _embeddings),
                       ("events", _events)):
        table = make(rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
