"""Seeded fixture tables for the query workload.

``query_loops``' queries read ``events`` (``markov_stationary``) and
``embeddings`` (``embedding_pca_top``). This module writes both with
the column types, value domains and row counts of the project's sf0.1
fixtures (100,000 events over 30 days by 1,500 users; 2,000 unit
64-dim embeddings in 10 labels), drawn from a seed, so a run needs
nothing outside its own directory.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["events", "embeddings"]

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64
EPOCH_2024 = dt.datetime(2024, 1, 1)


def build(seed: int) -> dict[str, pa.Table]:
    """Both tables for ``seed``."""
    rng = np.random.default_rng(seed)
    n_evt, n_user, n_vec = 100_000, 1_500, 2_000
    # Events arrive in id order.
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(np.datetime64(EPOCH_2024, "us") + offsets_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 0.01, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vec, EMBED_DIM)) / np.sqrt(EMBED_DIM) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"events": events, "embeddings": embeddings}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group ``<name>.parquet`` per table, as the fixtures have."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
