"""KNN operator tests: GEMM path vs pure-expression path vs NumPy oracle;
empty inputs; determinism of tie-breaks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorsearch_spark.config import Metric
from vectorsearch_spark.operators.knn import brute_force_topk, knn_join, knn_join_expr


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _np_knn(ids, mat, qmat, k, metric):
    out = []
    for qi in range(qmat.shape[0]):
        if metric == Metric.L2:
            d = np.linalg.norm(mat - qmat[qi], axis=1)
        else:
            sim = (mat @ qmat[qi]) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qmat[qi]))
            d = 1.0 - sim
        order = np.lexsort((ids, d))[:k]
        out.append([(int(ids[i]), float(d[i])) for i in order])
    return out


@pytest.mark.parametrize("metric", [Metric.L2, Metric.COSINE])
def test_knn_join_matches_numpy(spark, emb, emb_np, metric):
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = knn_join(emb, queries, k=5, metric=metric, id_col="vec_id").collect()
    qmat = mat[:4]
    exp = _np_knn(ids, mat, qmat, 5, metric)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        for r, (eid, ed) in zip(rows, exp[qid]):
            assert r["id"] == eid
            assert abs(r["distance"] - ed) < 1e-9


def test_knn_join_expr_agrees_with_gemm(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = knn_join(emb, queries, k=7, id_col="vec_id").select("query_id", "id", "rank")
    b = knn_join_expr(emb, queries, k=7, id_col="vec_id").select("query_id", "id", "rank")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_knn_self_query_rank1_is_self(spark, emb):
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = knn_join(emb, queries, k=1, id_col="vec_id").collect()
    for r in got:
        assert r["id"] == r["query_id"]  # exact self-match at distance 0
        assert abs(r["distance"]) < 1e-6


# float32 values whose self-cosine computes to 1 + 1ulp in float64:
# raw distance −2.2e-16, which sign-preserving round (DuckDB) emits as
# −0.0 while Spark's BigDecimal round emits +0.0 — equal values,
# different bytes under a hash compare.
_NEG_ZERO_VEC = [
    -1.0707526206970215, 1.0544517040252686, -0.4031769335269928,
    1.222445011138916, 0.2082749754190445, 0.9766390323638916,
    0.3563663959503174, 0.7065731883049011,
]


def test_cosine_self_pair_never_negative_zero(spark):
    """Regression: cosine distance must clamp at +0.0 on every engine
    path (distance ≥ 0 by Cauchy–Schwarz, so the clamp is lossless)."""
    import math

    import duckdb

    from vectorsearch_spark.workload import _duck_cosine_dist

    vd = np.array(_NEG_ZERO_VEC, dtype=np.float64)
    n = math.sqrt(float(vd @ vd))
    assert float(vd @ vd) / (n * n) > 1.0  # the vector really trips it

    df = spark.createDataFrame(
        [(0, _NEG_ZERO_VEC)], "vec_id long, embedding array<float>"
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    # GEMM mapper path: clamp makes the raw distance exactly +0.0
    row = knn_join(df, q, k=1, metric=Metric.COSINE, id_col="vec_id").collect()[0]
    assert row["distance"] == 0.0
    assert math.copysign(1.0, row["distance"]) == 1.0
    # Catalyst HOF path (distance_for_metric): clamped ≥ 0
    row = knn_join_expr(df, q, k=1, metric=Metric.COSINE, id_col="vec_id").collect()[0]
    assert row["distance"] >= 0.0
    assert math.copysign(1.0, row["distance"]) == 1.0
    # DuckDB oracle expression: greatest(d, 0) before round → +0.0
    lit = "[" + ", ".join(repr(x) for x in _NEG_ZERO_VEC) + "]::DOUBLE[]"
    con = duckdb.connect()
    d = con.sql(
        f"SELECT round({_duck_cosine_dist('v', 'v')}, 4) AS d FROM (SELECT {lit} AS v)"
    ).fetchone()[0]
    assert math.copysign(1.0, d) == 1.0


def test_knn_empty_queries(spark, emb):
    empty = emb.filter(F.lit(False)).select(F.col("vec_id").alias("query_id"), "embedding")
    assert knn_join(emb, empty, k=3, id_col="vec_id").count() == 0


def test_brute_force_topk_single(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    rows = brute_force_topk(emb, list(q), k=3, id_col="vec_id").collect()
    assert rows[0]["id"] == 0 and abs(rows[0]["distance"]) < 1e-6
    assert [r["distance"] for r in rows] == sorted(r["distance"] for r in rows)


def test_range_join_equals_model(spark):
    """range_join ≡ the NumPy all-pairs-within-radius model for L2 and
    cosine, inclusive boundary, multi-partition input; empty query side
    returns an empty typed frame."""
    import numpy as np

    from vectorsearch_spark.config import Metric
    from vectorsearch_spark.operators.knn import range_join

    rng = np.random.default_rng(31)
    x = rng.normal(size=(200, 16)).astype(np.float64)
    q = x[:5]
    vec = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in q[i]]) for i in range(len(q))],
        "query_id long, embedding array<double>",
    )

    for metric, r in [(Metric.L2, 5.0), (Metric.COSINE, 0.8)]:
        if metric == Metric.L2:
            d = np.sqrt(((x[:, None, :] - q[None, :, :]) ** 2).sum(-1))
        else:
            xn = x / np.linalg.norm(x, axis=1)[:, None]
            qn = q / np.linalg.norm(q, axis=1)[:, None]
            d = 1.0 - xn @ qn.T
        model = {
            (int(qi), int(vi)): d[vi, qi]
            for vi, qi in zip(*np.nonzero(d <= r))
        }
        got = {
            (r_["query_id"], r_["id"]): r_["distance"]
            for r_ in range_join(
                vec, qdf, radius=r, metric=metric, id_col="vec_id"
            ).collect()
        }
        assert set(got) == set(model), metric
        for k in got:
            # sqrt amplifies the GEMM identity's ±1e-13 cancellation
            # near zero to ~1e-6 absolute (self-pairs); harmless — the
            # oracle rounds to 4 decimals
            assert abs(got[k] - model[k]) < 2e-6
        # inclusive boundary: the self-pair at distance 0 is present
        assert all((i, i) in got for i in range(5))

    empty = range_join(
        vec, qdf.where("query_id < 0"), radius=1.0, id_col="vec_id"
    )
    assert empty.count() == 0 and "score" in empty.columns


@pytest.mark.parametrize("metric", [Metric.L2, Metric.COSINE])
def test_knn_join_ties_straddling_k_match_expr(spark, metric):
    """One partition, nine duplicate vectors tied across the k-th place,
    ids descending in row order: the GEMM path's per-partition top-k
    must keep the lowest tied ids, exactly as the (distance, id) window
    of ``knn_join_expr`` does."""
    rows = [(10, [1.0, 0.0])] + [(i, [1.0, 1.0]) for i in range(9, 0, -1)]
    vec = spark.createDataFrame(rows, "id long, embedding array<float>").coalesce(1)
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<float>")
    got = [r["id"] for r in knn_join(vec, q, k=3, metric=metric).orderBy("rank").collect()]
    want = [r["id"] for r in knn_join_expr(vec, q, k=3, metric=metric).orderBy("rank").collect()]
    assert got == want == [10, 1, 2]
