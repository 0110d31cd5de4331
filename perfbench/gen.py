"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and writes into a
directory keyed by that seed under the benchmark's work directory, so a
rerun with the same seed reuses the files and a new seed gets fresh
ones.  The engine only ever sees the generated files.

Shapes follow the repository's test data (``events``, ``documents``,
``embeddings``) and the reference logger format (SGRF, 17 channels x
3000 rows at 100 Hz, about 432 KB per file).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86_400_000_000

LOGGER_CHANNELS = [f"T-T{i // 6 + 1}_L{i % 6 + 1}" for i in range(17)]
LOGGER_RATE_HZ = 100.0
LOGGER_ROWS = 3000
OLE_EPOCH_UNIX = -2209161600.0


def _publish(tmp: str, final: str) -> str:
    """Atomically expose a finished directory (a killed run leaves only
    an ignorable ``.tmp`` sibling, never a half-written cache)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return final
    os.replace(tmp, final)
    return final


def _fresh(path: str) -> str:
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def events_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``events`` rows: 1500 users, 5 event types, 30 days of
    microsecond timestamps, 2-decimal exponential values."""
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(
                T0_US + rng.integers(0, MONTH_US, n), type=pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``documents`` rows over a 30-word vocabulary, 10-100 words each.
    About 5% are near-duplicates of an earlier document (the original
    plus the token ``dup``) and 0.2% exact copies, so every dedup and
    leakage operator has real work to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 ``embeddings`` around 10 labelled centres."""
    centres = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centres[label] * 0.3 + rng.normal(0.0, 1.0, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def logger_file(rng: np.random.Generator, start_unix: float) -> tuple[bytes, np.ndarray]:
    """One 30 s, 100 Hz SGRF logger file and its sample matrix.

    Values carry 3 decimals, so the exact-mean oracle and the engine
    sum identical fixed-point integers."""
    from sparkgraft.operators.multimodal import encode_sample_matrix

    t = start_unix + np.arange(LOGGER_ROWS) / LOGGER_RATE_HZ
    base = rng.normal(20.0, 5.0, len(LOGGER_CHANNELS))
    vals = np.round(base + rng.normal(0.0, 0.5, (LOGGER_ROWS, len(LOGGER_CHANNELS))), 3)
    mat = np.column_stack([(t - OLE_EPOCH_UNIX) / 86400.0, vals])
    return encode_sample_matrix(LOGGER_CHANNELS, LOGGER_RATE_HZ, mat), mat


def analytics_dir(root: str, seed: int, files: int, rows_per_file: int,
                  n_docs: int, n_vecs: int) -> str:
    """An sf-shaped directory for the analytics suite: ``events`` as
    ``files`` parquet files of ``rows_per_file`` rows (one row group
    each, so the scan splits into one task per file), plus
    ``documents`` and ``embeddings``."""
    final = os.path.join(
        root, f"analytics-s{seed}-{files}x{rows_per_file}-{n_docs}d{n_vecs}v"
    )
    if os.path.isdir(final):
        return final
    tmp = _fresh(final)
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{tmp}/events.parquet")
    for i in range(files):
        pq.write_table(
            events_table(rng, rows_per_file, i * rows_per_file),
            f"{tmp}/events.parquet/part-{i:03d}.parquet",
        )
    pq.write_table(
        documents_table(np.random.default_rng([seed, 2]), n_docs),
        f"{tmp}/documents.parquet",
    )
    pq.write_table(
        embeddings_table(np.random.default_rng([seed, 3]), n_vecs),
        f"{tmp}/embeddings.parquet",
    )
    return _publish(tmp, final)
