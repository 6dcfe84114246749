"""Partial top-k: the one per-partition selection kernel behind every
map-side combine (KNN GEMM mapper, index PQ scan, kNN-graph build).

The global merges order by (distance asc, id asc)
(fdb/FdbVectorIndex.java:432-437) and are exact only if each partition
emits its exact local top-k under that same order. ``argpartition``
alone keeps an arbitrary subset of the rows tied at the k-th value, so
the kernel widens its head to every tied row before the final sort.
"""

from __future__ import annotations

import numpy as np


def partial_topk(d: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` smallest ``d`` ordered by (d, ids) —
    equal to ``np.lexsort((ids, d))[:k]`` at O(n + t·log t) cost, t the
    head size: ``argpartition``, widen the head to every row tied with
    the k-th value, then ``lexsort`` the head only."""
    n = len(d)
    if k < n:
        kth = d[np.argpartition(d, k - 1)[k - 1]]
        # NaN sorts last in lexsort: a NaN k-th value means every row
        # may be in the answer
        head = np.flatnonzero(d <= kth) if kth == kth else np.arange(n)
    else:
        head = np.arange(n)
    return head[np.lexsort((ids[head], d[head]))[:k]]
