"""Neighbor-graph construction for sealed segments (G1-G3 in SURVEY §2.8).

Reference semantics: ``graph/GraphBuilder.java`` —
- brute-force kNN graph when alpha <= 1.0 (GraphBuilder.java:41-56,
  selected at tasks/SegmentBuildService.java:207-209),
- alpha-pruned ("robust prune") neighbor selection: keep candidate u
  unless an already-kept p satisfies d²(u,p) ≤ α·d²(u,node)
  (GraphBuilder.java:70-108, 306-327),
- Vamana incremental build: medoid entry → greedy search on the partial
  graph → robust prune → reverse-edge insert with re-prune
  (GraphBuilder.java:132-195, greedy search 235-279),
- medoid = argmin distance to the mean vector (GraphBuilder.java:200-226).

Scale story: graph build is inherently sequential *within* a segment
(Vamana inserts depend on the partial graph), so — like the reference,
which builds one segment per worker — we run one NumPy build per
segment inside ``applyInPandas``. Segments are capped by
``max_segment_size``, bounding task memory/time; a large index
parallelizes across its many segments.
"""

from __future__ import annotations

import numpy as np

from vectorsearch_spark.operators.topk import partial_topk


def _pairwise_sq(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    d2 = (
        np.einsum("ij,ij->i", x, x)[:, None]
        - 2.0 * (x @ y.T)
        + np.einsum("ij,ij->i", y, y)[None, :]
    )
    np.maximum(d2, 0.0, out=d2)
    return d2


def knn_graph(vectors: np.ndarray, degree: int, block: int = 2048) -> list[np.ndarray]:
    """Brute-force kNN graph: per node, the ``degree`` nearest others by
    L2² (GraphBuilder.java:41-56). Blocked GEMM keeps memory at
    O(block·n)."""
    n = vectors.shape[0]
    x = vectors.astype(np.float64, copy=False)
    deg = min(degree, max(n - 1, 0))
    pos = np.arange(n)
    out: list[np.ndarray] = []
    for start in range(0, n, block):
        stop = min(start + block, n)
        d2 = _pairwise_sq(x[start:stop], x)
        for i in range(start, stop):
            row = d2[i - start]
            row[i] = np.inf  # exclude self
            out.append(partial_topk(row, pos, deg).astype(np.int32))
    return out


def robust_prune(
    cand: np.ndarray, cand_sq: np.ndarray, degree: int, alpha: float, x: np.ndarray
) -> np.ndarray:
    """Alpha-pruned neighbor selection (GraphBuilder.java:70-108, 306-327).

    ``cand`` sorted by distance to the node ascending; greedily keep u
    unless some already-kept p has d²(u,p) ≤ α·d²(u,node) — alpha
    operates on SQUARED distances, exactly as the reference documents
    (GraphBuilder.java:66-69), so larger alpha prunes more aggressively.
    """
    kept: list[int] = []
    d = x.shape[1]
    kept_mat = np.empty((degree, d), dtype=np.float64)
    for idx in range(len(cand)):
        if len(kept) >= degree:
            break
        u = int(cand[idx])
        du = cand_sq[idx]
        if kept:
            diff = kept_mat[: len(kept)] - x[u]
            dup = np.einsum("ij,ij->i", diff, diff)
            if np.any(dup <= alpha * du):
                continue
        kept_mat[len(kept)] = x[u]
        kept.append(u)
    return np.array(kept, dtype=np.int32)


def _greedy_search(
    x: np.ndarray,
    adj: list[np.ndarray],
    entry: int,
    q: np.ndarray,
    l_build: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Best-first greedy search over the partial graph, returning the
    visited candidate pool sorted by distance (GraphBuilder.java:235-287:
    bounded best-list of l_build, visited-set dedup)."""
    d_entry = float(np.sum((x[entry] - q) ** 2))
    ids = np.array([entry], dtype=np.int64)
    dists = np.array([d_entry], dtype=np.float64)
    visited = np.zeros(1, dtype=bool)
    in_pool = {entry}
    while True:
        # expand the best unvisited candidate among the current top-L
        # best list only (the bounded best-list contract of
        # GraphBuilder.java:282-287: nodes outside it are never expanded)
        top = np.lexsort((ids, dists))[:l_build]
        unv = top[~visited[top]]
        if unv.size == 0:
            break
        j = unv[0]
        visited[j] = True
        new = [int(v) for v in adj[ids[j]] if int(v) not in in_pool]
        if new:
            nb = np.array(new, dtype=np.int64)
            diff = x[nb] - q
            nd = np.einsum("ij,ij->i", diff, diff)
            in_pool.update(new)
            ids = np.concatenate([ids, nb])
            dists = np.concatenate([dists, nd])
            visited = np.concatenate([visited, np.zeros(len(nb), dtype=bool)])
        if len(ids) > 4 * l_build:  # trim to bound memory like insertSorted
            keep = np.zeros(len(ids), dtype=bool)
            keep[np.lexsort((ids, dists))[: 2 * l_build]] = True
            keep |= visited
            ids, dists, visited = ids[keep], dists[keep], visited[keep]
            in_pool = set(ids.tolist())
    order = np.lexsort((ids, dists))[:l_build]
    return ids[order], dists[order]


def medoid(vectors: np.ndarray) -> int:
    """argmin distance to the mean vector (GraphBuilder.java:200-226)."""
    x = vectors.astype(np.float64, copy=False)
    center = x.mean(axis=0)
    d2 = np.einsum("ij,ij->i", x - center, x - center)
    return int(np.argmin(d2))


def vamana_graph(
    vectors: np.ndarray,
    degree: int,
    l_build: int,
    alpha: float,
    seed: int = 42,
) -> list[np.ndarray]:
    """Vamana incremental build (GraphBuilder.java:132-195): insert nodes
    in a seeded random order; for each, greedy-search the partial graph
    from the medoid, robust-prune the visited pool into its neighbor
    list, then add reverse edges with re-prune on overflow."""
    n = vectors.shape[0]
    x = vectors.astype(np.float64, copy=False)
    if n <= 1:
        return [np.empty(0, dtype=np.int32) for _ in range(n)]
    if n <= degree + 1:
        return knn_graph(x, degree)
    m = medoid(x)
    adj: list[np.ndarray] = [np.empty(0, dtype=np.int32) for _ in range(n)]
    # bootstrap: connect medoid to a few seeded random nodes so search can move
    rng = np.random.default_rng(seed)
    boot = rng.choice(np.delete(np.arange(n), m), size=min(degree, n - 1), replace=False)
    adj[m] = np.sort(boot).astype(np.int32)
    order = rng.permutation(n)
    for node in order:
        node = int(node)
        if node == m:
            continue
        cand, cand_sq = _greedy_search(x, adj, m, x[node], l_build)
        mask = cand != node
        cand, cand_sq = cand[mask], cand_sq[mask]
        adj[node] = robust_prune(cand, cand_sq, degree, alpha, x)
        for p in adj[node]:
            p = int(p)
            if node in adj[p]:
                continue
            merged = np.append(adj[p], node)
            if len(merged) <= degree:
                adj[p] = merged.astype(np.int32)
            else:
                d2 = np.einsum("ij,ij->i", x[merged] - x[p], x[merged] - x[p])
                srt = np.lexsort((merged, d2))
                adj[p] = robust_prune(merged[srt], d2[srt], degree, alpha, x)
    return adj


def build_graph(
    vectors: np.ndarray, degree: int, l_build: int, alpha: float, seed: int = 42
) -> list[np.ndarray]:
    """Dispatch: alpha <= 1.0 → brute kNN graph, else Vamana
    (tasks/SegmentBuildService.java:204-209)."""
    if alpha <= 1.0:
        return knn_graph(vectors, degree)
    return vamana_graph(vectors, degree, l_build, alpha, seed)
