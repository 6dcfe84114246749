"""Partial top-k kernel: equal to the full (distance, id) sort on
tie-heavy inputs, and the index PQ scan built on it does not depend on
the order of a segment's code rows."""

from __future__ import annotations

import numpy as np
import pandas as pd

from vectorsearch_spark.index.search import _pq_candidates
from vectorsearch_spark.operators.pq import approx_distances, build_lut
from vectorsearch_spark.operators.topk import partial_topk


def test_partial_topk_equals_lexsort_on_ties():
    rng = np.random.default_rng(7)
    for trial in range(400):
        n = int(rng.integers(0, 50))
        d = rng.integers(0, 5, size=n).astype(np.float64)
        # unique ids in half the trials, repeated ids in the other half
        ids = rng.permutation(n) if trial % 2 else rng.integers(0, n // 3 + 1, size=n)
        for k in range(1, n + 3):
            np.testing.assert_array_equal(
                partial_topk(d, ids, k), np.lexsort((ids, d))[:k]
            )


def _codes_frame(seg_ids, vec_ids, codes) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "seg_id": np.asarray(seg_ids, dtype=np.int32),
            "vec_id": np.asarray(vec_ids, dtype=np.int32),
            "codes": [bytes(c) for c in codes],
        }
    )


def test_pq_scan_candidates_independent_of_code_row_order():
    rng = np.random.default_rng(3)
    m, kc, sub = 2, 4, 2
    cb = rng.normal(size=(m, kc, sub))
    # five distinct code rows repeated over 40 vectors: every ef cut
    # falls inside a run of tied approximate distances
    codes = rng.integers(0, kc, size=(5, m), dtype=np.uint8)[rng.integers(0, 5, size=40)]
    seg_ids = np.repeat([3, 5], 20)
    pdf = _codes_frame(seg_ids, np.arange(40), codes)
    qids, qvecs = [10, 11, 12], [rng.normal(size=m * sub) for _ in range(3)]
    cb_map, ef_by_seg = {3: cb, 5: cb}, {3: 7, 5: 4}

    def scan(frame):
        return _pq_candidates(frame, qids, qvecs, cb_map, {}, ef_by_seg, {})

    base = scan(pdf)
    for seed in range(6):
        perm = np.random.default_rng(seed).permutation(len(pdf))
        pd.testing.assert_frame_equal(scan(pdf.iloc[perm].reset_index(drop=True)), base)

    # and each (query, segment) block is the exact top-ef by (approx, vec_id)
    want = []
    for qid, qv in zip(qids, qvecs):
        for seg in (3, 5):
            rows = np.flatnonzero(seg_ids == seg)
            d = approx_distances(codes[rows], build_lut(cb, qv))
            top = np.lexsort((rows, d))[: ef_by_seg[seg]]
            want += [(qid, seg, int(rows[i]), d[i]) for i in top]
    got = sorted(base.itertuples(index=False, name=None))
    assert got == sorted(want)
