"""Seeded benchmark inputs, written with pyarrow in one process.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet files. The engine only ever sees these files;
nothing here imports ``sparkflow_spark``.

Shapes follow the engine's fixture schemas (FIXTURES.md):

- ``documents`` (doc_id, text, lang, source, n_chars): a 31-word
  vocabulary, 8-95 words per document, ~5% near-duplicates (an earlier
  document plus a trailing ``dup``) and ~1% exact duplicates, so exact,
  near, substring and LSH dedup all have real matches to find.
- ``embeddings`` (vec_id, embedding float[64], label): unit vectors,
  with ~3% perturbed copies (cosine > 0.99) as semantic duplicates.
- ``events`` (event_id, ts, user_id, event_type, value, props): a
  time-ordered event log over 30 days. For the stream workload it is a
  landing *directory* of time-sliced part files with increasing mtimes,
  so a file-source stream admits them in event-time order.
- ``features`` (label, features double[dim]), a directory of part files
  so the trainer sees several input partitions: a logistic teacher over
  isotropic Gaussian inputs with a seed-drawn unit direction; every seed
  poses the same problem up to rotation, so the trained loss repeats.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark join stream small order merge column group customer part "
    "value window big scan table vector row filter sort hash batch data key "
    "query line agg fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_parts(table: pa.Table, out_dir: str, files: int) -> None:
    """Split ``table`` in row order into ``files`` part files whose
    mtimes increase with the part number."""
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in langs], pa.string()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    X = rng.standard_normal((n, EMBED_DIM))
    for i in range(20, n):
        if rng.random() < 0.03:
            X[i] = X[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(EMBED_DIM)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X = X.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(X), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.choice(span_us, size=n, replace=False)).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(
                [start + datetime.timedelta(microseconds=int(t)) for t in ts],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)], pa.string()
            ),
            "value": pa.array(np.round(rng.random(n) * 500.0, 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def features(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    X = rng.standard_normal((n, dim))
    w = rng.standard_normal(dim)
    w *= 2.0 / np.linalg.norm(w)
    p = 1.0 / (1.0 + np.exp(-(X @ w)))
    y = (rng.random(n) < p).astype(np.float64)
    return pa.table(
        {
            "label": pa.array(y),
            "features": pa.array(list(X.astype(np.float64)), pa.list_(pa.float64())),
        }
    )


def generate(out_dir: str, seed: int, scale: dict) -> dict:
    """Write the inputs ``scale`` asks for under ``out_dir``; return a
    manifest of row counts. Keys of ``scale``: ``docs``, ``vecs``,
    ``events`` (+ ``users``, ``event_files``), ``train_rows``
    (+ ``train_dim``, ``train_files``). A missing key skips that table."""
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.SeedSequence(seed)
    rngs = {
        k: np.random.default_rng(s)
        for k, s in zip(("docs", "vecs", "events", "train"), root.spawn(4))
    }
    manifest: dict = {"seed": seed}
    if "docs" in scale:
        _write(documents(rngs["docs"], scale["docs"]), os.path.join(out_dir, "documents.parquet"))
        manifest["documents"] = scale["docs"]
    if "vecs" in scale:
        _write(embeddings(rngs["vecs"], scale["vecs"]), os.path.join(out_dir, "embeddings.parquet"))
        manifest["embeddings"] = scale["vecs"]
    if "events" in scale:
        _write_parts(
            events(rngs["events"], scale["events"], scale["users"]),
            os.path.join(out_dir, "events.parquet"),
            scale["event_files"],
        )
        manifest["events"] = scale["events"]
    if "train_rows" in scale:
        _write_parts(
            features(rngs["train"], scale["train_rows"], scale["train_dim"]),
            os.path.join(out_dir, "features.parquet"),
            scale["train_files"],
        )
        manifest["features"] = scale["train_rows"]
    return manifest
