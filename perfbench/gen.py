"""Seeded inputs.  The program only ever sees the parquet files written
here; the same seed writes the same files.

The events table follows the shape of the repository's ``events``
testdata: ``event_id`` BIGINT, ``ts`` TIMESTAMP spanning 2024-01-01 to
2024-01-30, ``user_id`` BIGINT over 1.5 users per 100 events, five
equally likely event types (which drive the message-grammar mix the
pipeline parses), an exponential ``value`` with mean 50 rounded to
cents, and ``props`` = ``{"k": 0..99}``.  Embeddings are unit-norm
float32[64] vectors around ten labelled centres."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1_000_000
EMB_DIM = 64
EMB_LABELS = 10


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events in timestamp order; timestamps are distinct, so each
    event is one distinct (timestamp, raw_content) message."""
    ts = np.sort(rng.integers(0, SPAN_US - n, n)) + np.arange(n) + START_US
    n_users = max(1, round(0.015 * n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centres[labels] + 0.8 * rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def etl_inputs(seed: int, n: int, sf_dir: str) -> set:
    """The events ``run_pipeline`` synthesizes its raw messages from;
    returns their timestamps (one message each)."""
    ev = events(np.random.default_rng(seed), n)
    pq.write_table(ev, f"{sf_dir}/events.parquet")
    return set(ev.column("ts").cast(pa.int64()).to_numpy().tolist())


def model_inputs(seed: int, n_events: int, n_embeddings: int, sf_dir: str) -> None:
    rng = np.random.default_rng(seed)
    pq.write_table(events(rng, n_events), f"{sf_dir}/events.parquet")
    pq.write_table(embeddings(rng, n_embeddings), f"{sf_dir}/embeddings.parquet")
