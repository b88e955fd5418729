"""Seeded inputs of the streaming workload.

The batch workloads read the repository's own test data (see
``batch.py``); only the file-per-trigger stream is generated here.
``StreamDocs`` makes document rows with a controlled duplicate share
and Zipf-skewed tokens; ``stream_events`` makes event rows, in the
schema of the test data's ``events`` table, whose event time keeps
advancing so tumbling windows close.

Everything derives from ``numpy.random.default_rng(seed)``: the same
seed gives the same rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def events_frame(rng, first_id: int, n: int, n_users: int,
                 start: np.datetime64, span_s: float) -> pd.DataFrame:
    """``n`` events with ids from ``first_id`` and event times rising
    from ``start`` over ``span_s`` seconds."""
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * span_s * 1e6
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


class StreamDocs:
    """Document batches for the streaming twins.

    Tokens are drawn Zipf-skewed (weight ``1/rank^1.1``) from a
    5,000-word vocabulary. A ``DUP_SHARE`` of each batch repeats a
    document seen earlier in the stream, half verbatim and half with
    one token replaced, so exact, bloom and MinHash dedup all find
    work across batches."""

    DUP_SHARE = 0.15
    VOCAB = 5000

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, self.VOCAB + 1) ** 1.1
        self.p = w / w.sum()
        self.words = np.array([f"w{i}" for i in range(self.VOCAB)])
        self.history: list[str] = []
        self.next_id = 0

    def batch(self, n: int) -> pd.DataFrame:
        rng = self.rng
        texts = []
        for _ in range(n):
            if self.history and rng.random() < self.DUP_SHARE:
                src = self.history[int(rng.integers(0, len(self.history)))]
                if rng.random() < 0.5:
                    toks = src.split()
                    toks[int(rng.integers(0, len(toks)))] = str(
                        rng.choice(self.words, p=self.p))
                    src = " ".join(toks)
                texts.append(src)
            else:
                k = int(rng.integers(20, 60))
                texts.append(" ".join(rng.choice(self.words, k, p=self.p)))
        self.history.extend(texts)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({"doc_id": ids, "text": texts})


def stream_events(seed: int, n_batches: int, n: int) -> list[pd.DataFrame]:
    """Event batches whose event time advances 30 minutes per batch,
    so the hourly windows behind a 2-hour watermark close as the
    stream runs."""
    rng = np.random.default_rng(seed)
    half_hour = 1800
    return [
        events_frame(rng, b * n, n, 150,
                     EVENT_EPOCH + np.timedelta64(b * half_hour, "s"),
                     half_hour)
        for b in range(n_batches)
    ]
