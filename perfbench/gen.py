"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and the program under test only ever sees the
files written here.  Shapes follow the ``events``, ``documents`` and
``embeddings`` schemas in ``schemas.py`` (see FIXTURES.md) so the
registry's queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 1500
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Small fixed vocabulary, as in the sf* ``documents`` fixtures: repeated
# words make the repetition gate, 8-gram decontamination and MinHash
# bands all find real work.
VOCAB = np.array(
    "batch part spark line column order small sort fast value scan slow "
    "filter customer stream hash table key group query agg join vector "
    "index shard token merge window state commit offset sink source "
    "plan stage task shuffle spill memory disk cache".split()
)
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def events_table(n: int, seed: int) -> pa.Table:
    """``events`` rows with ids ``0..n-1``; ``value`` has two decimals so
    integer-cent sums are exact in every engine."""
    rng = np.random.default_rng([seed, 1])
    ts = TS_BASE_US + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.uniform(0.0, 500.0, n), 2)),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k]),
        }
    )


def documents_table(n: int, seed: int) -> pa.Table:
    """``documents``: random word sequences, plus exact duplicates and
    one-word-edited near duplicates so both dedup stages have hits."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i >= 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))  # near duplicate
        else:
            length = int(rng.integers(5, 80))
            texts.append(" ".join(rng.choice(VOCAB, length)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(n: int, seed: int, dims: int = 64) -> pa.Table:
    """``embeddings``: unit-scale random float32 vectors with 10 labels."""
    rng = np.random.default_rng([seed, 3])
    vecs = (rng.standard_normal((n, dims)) * 0.15).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    """Write ``table`` as ``<sf_dir>/<name>.parquet`` (the layout
    ``sources.io.load_table`` reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def split_rows(n_rows: int, n_files: int, seed: int) -> list[np.ndarray]:
    """Seeded split of row indices ``0..n_rows-1`` into ``n_files``
    non-empty chunks of near-equal size, rows shuffled across chunks."""
    rng = np.random.default_rng([seed, 4])
    return np.array_split(rng.permutation(n_rows), n_files)
