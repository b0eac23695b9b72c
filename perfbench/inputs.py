"""Seeded input tables, written with pyarrow before the engine starts.

The tables follow the schemas and distributions of the repository's test
data (``events``, ``embeddings``): the same seed gives the
same rows. Rows are written in a seeded random order, so no query can lean
on file order; the oracle check holds on any order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_DAY_US = 86_400_000_000


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_US
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


_MAKERS = {"events": _events, "embeddings": _embeddings}


def table_path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, f"{table}.parquet")


def write_inputs(out_dir: str, seed: int, rows: dict[str, int], tables, files: int) -> None:
    """Write each of ``tables`` under ``out_dir`` as ``<table>.parquet``:
    one file when ``files`` is 1, else a directory of ``files`` parts."""
    os.makedirs(out_dir, exist_ok=True)
    for i, table in enumerate(sorted(tables)):
        rng = np.random.default_rng([seed, i])
        t = _MAKERS[table](rng, rows[table])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = table_path(out_dir, table)
        if files == 1:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
        for p in range(files):
            part = t.slice(bounds[p], bounds[p + 1] - bounds[p])
            pq.write_table(part, os.path.join(path, f"part-{p:05d}.parquet"))
