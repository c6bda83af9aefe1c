"""Seeded synthetic input tables for the registry-query phase.

The registry queries read parquet tables from an ``sf_dir``. The tables
they need (``documents`` and ``events``) are generated here, in the
shape of the repository's own test tables: documents are text over a
30-word vocabulary with a share of near-duplicate families (so the
MinHash near-dup graph has edges), events are user activity rows with a
handful of event types.

The tables are generated from a fixed seed, not from ``--seed``, so the
query results have one digest each, stored in ``query_digests.json``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import gen

TABLE_SEED = 20240101
N_DOCS = 400
# Share of documents that copy an earlier document with a few words
# changed; they form the near-duplicate families.
NEAR_DUP_SHARE = 0.3
N_EVENTS = 3_000
N_USERS = 150

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
EVENT_TYPES = ("signup", "view", "click", "purchase", "error")


def documents(rng: np.random.Generator) -> pd.DataFrame:
    sizes = gen.payload_sizes(rng, N_DOCS)
    texts: list[str] = []
    for i, size in enumerate(sizes):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            # about 5.5 bytes per word with its separator
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size=max(4, int(size) // 6))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events(rng: np.random.Generator) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(60.0, size=N_EVENTS)  # seconds between events
    return pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": start + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, size=N_EVENTS).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=N_EVENTS),
            "value": np.round(rng.uniform(1, 200, size=N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
        }
    )


def write_tables(sf_dir: str) -> None:
    """Write ``documents.parquet`` and ``events.parquet`` under ``sf_dir``."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(sf_dir, exist_ok=True)
    documents(rng).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    events(rng).to_parquet(os.path.join(sf_dir, "events.parquet"), index=False)
