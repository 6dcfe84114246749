"""Seeded inputs for the vector-index benchmark.

Vectors are near-isotropic Gaussian: i.i.d. N(0, 1) per dimension, each
dimension scaled by a factor within a few percent of 1. Clustered data
would let the PQ candidate pool catch every true neighbour (recall 1.0),
which would hide a quality loss; isotropic data keeps default-mode
recall@10 just below 1.0.

Every stream (base vectors, queries, each churn round's batch) draws from
its own generator keyed by ``(seed, stream)``, so a workload's inputs do
not depend on how many rounds a run reaches.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE, QUERIES, ROUND = 0, 1, 2


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def dim_scales(seed: int, d: int) -> np.ndarray:
    return (1.0 + 0.03 * _rng(seed, 99).standard_normal(d)).astype(np.float32)


def gaussian(seed: int, n: int, d: int, *stream: int) -> np.ndarray:
    x = _rng(seed, *stream).standard_normal((n, d)).astype(np.float32)
    return x * dim_scales(seed, d)


def _vec_array(x: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
        pa.list_(pa.float32())
    )


def write_vectors(path: str, x: np.ndarray) -> None:
    """One file with an ``embedding array<float>`` column. The index
    assigns gids in file order (next_gid + row), which the exact checks
    rely on and would catch if it changed."""
    pq.write_table(pa.table({"embedding": _vec_array(x)}), path)


def write_queries(path: str, q: np.ndarray) -> None:
    ids = np.arange(len(q), dtype=np.int64)
    pq.write_table(pa.table({"query_id": ids, "embedding": _vec_array(q)}), path)
