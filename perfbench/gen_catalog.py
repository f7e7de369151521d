"""Seeded ``events`` and ``documents`` tables shaped like the sf0.1 catalog
that ``load_table`` serves (same columns and types, same row counts), so
the built-in MetricQuery datasets run on them unchanged."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_DOCUMENTS = 5_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "search"]
LANGS = ["en", "de", "fr", "es", "zh", "ja"]
SOURCES = [f"src{i}" for i in range(8)]
WORDS = (
    "a the of and to in spark data table row column query filter join hash sort "
    "group agg window stream batch scan key value part line order customer vector "
    "fast slow big small merge index cache plan shuffle stage task node cluster "
    "file page block byte record field schema type model token text word count"
).split()


def gen_events(rng: np.random.Generator) -> pd.DataFrame:
    n = N_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 31 * 86400 * 10**6, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": (rng.zipf(1.3, n) % 5000).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n, p=[0.45, 0.25, 0.08, 0.05, 0.07, 0.10]),
            "value": np.round(rng.lognormal(3.0, 1.0, n), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
        }
    )


def gen_documents(rng: np.random.Generator) -> pd.DataFrame:
    n = N_DOCUMENTS
    lengths = rng.integers(8, 70, n)
    weights = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.8
    weights /= weights.sum()
    flat = rng.choice(WORDS, int(lengths.sum()), p=weights)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(flat, cuts)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.5, 0.1, 0.1, 0.1, 0.1, 0.1]),
            "source": rng.choice(SOURCES, n),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(out_dir: str, seed: int) -> dict[str, str]:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in (("events", gen_events(rng)), ("documents", gen_documents(rng))):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), paths[name])
    return paths
