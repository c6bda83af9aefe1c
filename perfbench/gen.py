"""Seeded input generation. Every input the program receives is drawn
here from one ``numpy.random.Generator`` built from ``--seed``; the
program under test sees only the generated requests."""

from __future__ import annotations

import numpy as np
import pandas as pd

# Zipf exponent of stream popularity: YCSB's default Zipfian constant
# (Cooper et al., SoCC 2010). The paper and the repository give no
# measured skew for event streams; README.md lists the basis of every
# generator parameter.
ZIPF_S = 0.99
# Payload sizes: log-normal, fitted to the byte lengths of the text in the
# repository's synthetic ``documents`` test table (median ~300 B, log
# standard deviation ~0.6, 44-577 B). Event payloads are opaque to the
# store; no event-payload size data exists to fit instead.
PAYLOAD_MEDIAN = 300
PAYLOAD_SIGMA = 0.6
PAYLOAD_MIN, PAYLOAD_MAX = 44, 577
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)


class ZipfPicker:
    """Draws indices in ``[0, n)`` with Zipf(``s``) popularity; which
    index is hottest is a seeded permutation, so hot streams differ per
    seed."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = ZIPF_S):
        weights = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.p = weights / weights.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self, k: int) -> np.ndarray:
        ranks = self.rng.choice(len(self.p), size=k, p=self.p)
        return self.perm[ranks]

    def one(self) -> int:
        return int(self.draw(1)[0])


def stream_names(n: int, prefix: str = "s") -> list[str]:
    return [f"{prefix}{i:06d}" for i in range(n)]


def payload_sizes(rng: np.random.Generator, k: int) -> np.ndarray:
    return np.clip(
        rng.lognormal(np.log(PAYLOAD_MEDIAN), PAYLOAD_SIGMA, size=k),
        PAYLOAD_MIN, PAYLOAD_MAX,
    ).astype(np.int64)


def payloads(rng: np.random.Generator, k: int) -> list[bytes]:
    """``k`` payloads with log-normal sizes; bytes are drawn from a small
    alphabet so they compress about as much as text does."""
    sizes = payload_sizes(rng, k)
    flat = _ALPHABET[rng.integers(0, len(_ALPHABET), size=int(sizes.sum()))]
    out, pos = [], 0
    for n in sizes:
        out.append(flat[pos : pos + n].tobytes())
        pos += n
    return out


def request_frame(
    rng: np.random.Generator,
    picker: ZipfPicker,
    names: list[str],
    k: int,
    event_name: str = "E",
) -> pd.DataFrame:
    """One batch of ``k`` append requests (``append_df`` input) over
    Zipf-chosen streams, with no ``expected_version`` column."""
    idx = picker.draw(k)
    return pd.DataFrame(
        {
            "stream_id": [names[i] for i in idx],
            "event_name": event_name,
            "payload": payloads(rng, k),
        }
    )
