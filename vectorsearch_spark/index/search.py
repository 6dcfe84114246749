"""Batch KNN search with per-state dispatch: the Spark re-expression of
``fdb/FdbVectorIndex.query`` (fdb/FdbVectorIndex.java:351-479).

Plan per SURVEY §3.1, re-shaped for batch:

1. registry scan → seg_ids by state (F2 dispatch, WRITING excluded,
   fdb/FdbVectorIndex.java:631-655);
2. ACTIVE/PENDING → exact brute-force scan (filter deleted → score →
   top-k; fdb/FdbVectorIndex.java:660-725) via the GEMM KNN operator;
3. SEALED/COMPACTING → two-phase approx→exact:
   a. PQ-code scan computing asymmetric LUT distances (L2² LUT,
      fdb/FdbVectorIndex.java:1057-1079) with per-partition partial
      top-ef — the batch equivalent of the BEST_FIRST traversal's
      candidate pool (the reference itself seeds traversal from the
      top-beam PQ scan; at batch scale the scan IS the search),
   b. ef auto-tuned by segment size (adaptation of the √(nCodes/1000)
      scaling at fdb/FdbVectorIndex.java:772-784),
   c. exact re-rank: join candidates back to raw vectors, true-metric
      rescore, filter tombstones (fdb/FdbVectorIndex.java:970-1046),
      optional normalize-on-read (823-826);
4. per-segment cap max(k, k·oversample) (api/SearchParams.java:73-82)
   then global merge → top-k by score with gid tie-break
   (fdb/FdbVectorIndex.java:432-437).

``search`` (collected query batch) and ``search_join`` (DataFrame query
side) differ only in how the query side reaches the scans; every job
they both do is one function here, called with each caller's own
frames and broadcast hints:

- ``_plan_segments``: registry split into brute and sealed segments,
  ``ef_by_seg`` and ``per_seg_limit``;
- ``_embedding``: the normalize-on-read embedding column;
- ``_unit_queries``: the cosine query unit-normalisation;
- ``_pq_candidates``: the per-(segment, query) PQ LUT scan and top-ef,
  run inside ``search``'s ``mapInPandas`` and ``search_join``'s cogroup;
- ``_rerank_capped``: the exact re-rank and its per-segment cap window;
- ``_merge_and_attach``: the global merge and payload attach.

Every per-partition top-k goes through ``operators.topk.partial_topk``,
so each partition emits its exact local top-k under the merge's
(distance, id) order.

Scale: the codes scan reads only (seg_id, vec_id, codes) — column
pruning leaves the embeddings un-read until re-rank, which touches
only Q×S×ef rows. Both scans emit bounded candidate sets per
partition, so no shuffle is ever O(N).
"""

from __future__ import annotations

import functools
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_spark.config import (
    SEARCHABLE_BRUTE,
    SEARCHABLE_SEALED,
    Metric,
)
from vectorsearch_spark.functions.distances import (
    distance_for_metric,
    normalize,
    score_from_distance,
)
from vectorsearch_spark.index.catalog import SearchParams, VectorIndex
from vectorsearch_spark.operators.knn import _partial_topk_mapper
from vectorsearch_spark.operators.pq import approx_distances, build_lut
from vectorsearch_spark.operators.topk import partial_topk

_CAND_SCHEMA = "query_id long, seg_id int, vec_id int, approx double"
_RESULT_SCHEMA = (
    "query_id long, gid long, distance double, score double, payload binary, rank int"
)


def default_ef(k: int, oversample: int) -> int:
    """SearchParams.defaults: ef = max(100, k*oversample*4)
    (api/SearchParams.java:74-82)."""
    return max(100, k * oversample * 4)


def tuned_ef(ef_base: int, k: int, n_codes: int) -> int:
    """Scale the candidate pool with segment size, clamped to [k, n] —
    adaptation of the reference's auto-tuning by nCodes
    (fdb/FdbVectorIndex.java:772-784)."""
    scale = max(1.0, math.sqrt(n_codes / 100_000.0))
    return max(k, min(n_codes, int(round(ef_base * scale))))


def _plan_segments(
    index: VectorIndex, params: SearchParams, k: int
) -> tuple[list[int], list[int], dict[int, int], int]:
    """Registry split by state (F2 dispatch, WRITING excluded,
    fdb/FdbVectorIndex.java:631-655) from the cached registry rows:
    (brute segments, sealed segments, tuned ef per sealed segment,
    per-segment cap). BRUTE scans every segment exhaustively."""
    cfg = index.config
    rows = index._segment_rows()
    brute = [r["seg_id"] for r in rows if r["state"] in SEARCHABLE_BRUTE]
    sealed = [r["seg_id"] for r in rows if r["state"] in SEARCHABLE_SEALED]
    if params.mode == "BRUTE":
        brute, sealed = brute + sealed, []
    counts = {r["seg_id"]: r["count"] + r["deleted_count"] for r in rows}
    ef_base = params.ef or default_ef(k, cfg.oversample)
    ef_by_seg = {s: tuned_ef(ef_base, k, max(counts[s], 1)) for s in sealed}
    per_seg_limit = params.per_seg_limit or max(k, k * cfg.oversample)
    return brute, sealed, ef_by_seg, per_seg_limit


def _allow_list(filter_gids: DataFrame | None) -> DataFrame | None:
    if filter_gids is None:
        return None
    return filter_gids.select(F.col("gid").cast("long").alias("gid")).distinct()


def _live_vectors(
    index: VectorIndex, allowed: DataFrame | None, seg_ids: list[int] | None = None
) -> DataFrame:
    """Untombstoned vector rows (of ``seg_ids``, when given), pre-filtered
    to the allow-list."""
    live = ~F.col("deleted")
    vec = index.vectors().filter(
        live if seg_ids is None else F.col("seg_id").isin(seg_ids) & live
    )
    return vec if allowed is None else vec.join(allowed, "gid", "left_semi")


def _embedding(params: SearchParams) -> Column:
    """The stored embedding, unit-normalized under ``normalize_on_read``
    (fdb/FdbVectorIndex.java:823-826)."""
    emb = F.col("embedding")
    return normalize(emb).cast("array<float>") if params.normalize_on_read else emb


def _scan_codes(
    index: VectorIndex, sealed_segs: list[int], allowed: DataFrame | None
) -> DataFrame:
    """Codes of the sealed segments. With an allow-list the scan is
    pre-filtered, so the candidate pool is spent on allowed vectors
    only."""
    codes = index.codes(sealed_segs)
    if allowed is None:
        return codes
    allowed_sv = (
        index.vectors(states=SEARCHABLE_SEALED)
        .join(allowed, "gid", "left_semi")
        .select("seg_id", "vec_id")
    )
    return codes.join(allowed_sv, ["seg_id", "vec_id"], "left_semi")


def _broadcast_codebooks(index: VectorIndex, sealed_segs: list[int]):
    """(codebooks, OPQ rotations) of the sealed segments as Spark
    broadcasts, from the driver codebook cache (SegmentCaches analog: no
    Spark job when the sealed set is unchanged since the last search).
    At 100k+ segments the dicts are O(#segments × m·k·sub_dim), so they
    ship once per executor instead of serialized into every task."""
    sc = index.spark.sparkContext
    return (
        sc.broadcast(index.codebooks_np(sealed_segs)),
        sc.broadcast(index.rotations_np(sealed_segs)),
    )


def _unit_queries(vecs, metric: Metric) -> list[np.ndarray]:
    """float64 query vectors. Under COSINE they are unit-normalized:
    codebooks were trained/encoded on unit vectors (build.py), so the
    L2² LUT ranking is then exactly monotone in cosine distance
    (‖v̂−q̂‖² = 2−2·cos) — normalize-on-read analog,
    fdb/FdbVectorIndex.java:1006-1013."""
    qvecs = [np.asarray(v, dtype=np.float64) for v in vecs]
    if metric == Metric.COSINE:
        qvecs = [v / n if (n := np.linalg.norm(v)) > 0.0 else v for v in qvecs]
    return qvecs


def _cand_frame(parts: list[tuple]) -> pd.DataFrame:
    """One ``_CAND_SCHEMA`` frame from per-(query, segment)
    ``(query_id, seg_id, vec_ids, approx)`` parts; typed when empty."""
    sizes = [len(p[2]) for p in parts]
    return pd.DataFrame(
        {
            "query_id": np.repeat(np.asarray([p[0] for p in parts], dtype=np.int64), sizes),
            "seg_id": np.repeat(np.asarray([p[1] for p in parts], dtype=np.int32), sizes),
            "vec_id": np.concatenate([p[2] for p in parts] or [[]]).astype(np.int32),
            "approx": np.concatenate([p[3] for p in parts] or [[]]).astype(np.float64),
        }
    )


def _pq_candidates(
    codes_pdf: pd.DataFrame,
    qids,
    qvecs: list[np.ndarray],
    cb_map: dict,
    rot_map: dict,
    ef_by_seg: dict[int, int],
    luts: dict,
) -> pd.DataFrame:
    """PQ LUT scan and top-ef per (segment, query) over one pandas batch
    of (seg_id, vec_id, codes) rows: asymmetric L2² LUT distances
    (fdb/FdbVectorIndex.java:1057-1079), then the exact top-ef by
    (approx, vec_id). ``luts`` memoizes each (query position, segment)
    LUT across the batches of one partition."""
    parts = []
    for seg_id, grp in codes_pdf.groupby("seg_id"):
        seg_id = int(seg_id)
        cb = cb_map.get(seg_id)
        if cb is None:
            continue
        codes = np.frombuffer(
            b"".join(grp["codes"].to_numpy()), dtype=np.uint8
        ).reshape(len(grp), cb.shape[0])
        vec_ids = grp["vec_id"].to_numpy(dtype=np.int64)
        rot = rot_map.get(seg_id)
        for i, (qid, qv) in enumerate(zip(qids, qvecs)):
            lut = luts.get((i, seg_id))
            if lut is None:
                # OPQ: codes were encoded in rotated space, so the LUT
                # is built from the rotated query
                lut = luts[(i, seg_id)] = build_lut(cb, qv @ rot if rot is not None else qv)
            d = approx_distances(codes, lut)
            sel = partial_topk(d, vec_ids, ef_by_seg[seg_id])
            parts.append((qid, seg_id, vec_ids[sel], d[sel]))
    return _cand_frame(parts)


def _pq_scan_fn(cbs_bc, rots_bc, queries: list[tuple[int, list[float]]], ef_by_seg, metric):
    """``mapInPandas`` body of ``search``'s codes scan: the collected
    query batch is closure-captured (one candidate set per query_id)."""
    by_qid = dict(queries)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qvecs = list(by_qid), _unit_queries(by_qid.values(), metric)
        luts: dict[tuple[int, int], np.ndarray] = {}
        for pdf in batches:
            if len(pdf):
                yield _pq_candidates(
                    pdf, qids, qvecs, cbs_bc.value, rots_bc.value, ef_by_seg, luts
                )

    return scan


def _rerank_capped(
    index: VectorIndex,
    cand: DataFrame,
    q: DataFrame,
    qvec: str,
    params: SearchParams,
    metric: Metric,
    allowed: DataFrame | None,
    per_seg_limit: int,
) -> DataFrame:
    """Exact re-rank (fdb/FdbVectorIndex.java:970-1046): join the
    (query_id, seg_id, vec_id) candidates back to raw vectors, drop
    tombstones, rescore against the ``qvec`` column of ``q`` with the
    true metric, then keep the best ``per_seg_limit`` per (query,
    segment) by (distance, gid). Callers choose the broadcast hints on
    ``cand`` and ``q``."""
    vec = index.vectors(states=SEARCHABLE_SEALED).select(
        "seg_id", "vec_id", "gid", "embedding", "deleted"
    )
    reranked = (
        vec.join(cand, ["seg_id", "vec_id"])
        .filter(~F.col("deleted"))
        .join(q, "query_id")
        .withColumn("distance", distance_for_metric(_embedding(params), F.col(qvec), metric))
        .select("query_id", "seg_id", "gid", "distance")
    )
    if allowed is not None:
        # drops traversal-surfaced disallowed nodes (GRAPH/BEAM);
        # a no-op for the pre-filtered PQ scan
        reranked = reranked.join(allowed, "gid", "left_semi")
    w_cap = Window.partitionBy("query_id", "seg_id").orderBy(
        F.col("distance").asc(), F.col("gid").asc()
    )
    return (
        reranked.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= per_seg_limit)
        .select("query_id", "gid", "distance")
    )


_BEAM_WARNED = False


def _warn_beam_once() -> None:
    """WARN-once parity with the reference's deprecated BEAM mode
    (fdb/FdbVectorIndex.java:369-372 + BeamWarn): the mode keeps
    working — a migrating user's queries run unchanged — but logs the
    same deprecation nudge, exactly once per process."""
    global _BEAM_WARNED
    if not _BEAM_WARNED:
        _BEAM_WARNED = True
        import warnings

        warnings.warn(
            "Search mode BEAM is deprecated; prefer GRAPH (best-first).",
            DeprecationWarning,
            stacklevel=3,
        )


def _graph_traverse_candidates(
    index: VectorIndex,
    sealed_segs: list[int],
    n_queries: int,
    vec: DataFrame,
    qdf: DataFrame,
    ef_df: DataFrame,
    seeds: DataFrame,
    metric: Metric,
    params: SearchParams,
) -> DataFrame:
    """G5/J3: iterative frontier–adjacency expansion over the sealed
    segments' neighbor graphs (the batch re-expression of BEST_FIRST,
    fdb/FdbVectorIndex.java:911-968; frontier expansion 856-899).

    Each iteration: join the frontier with adjacency on (seg_id,
    vec_id), explode neighbor lists, anti-join the visited set, score
    new nodes with the exact metric, keep the best ``ef`` per
    (query, segment). Converges when an iteration adds no rows (or at
    ``max_iters``, the reference's maxIters bound). Every iteration is
    a bounded join — frontier ≤ Q × ef rows — so the traversal never
    scans whole segments; it trades more rounds for less IO, exactly
    the niche it has in the reference.

    Batch adaptations of the per-query knobs (api/SearchParams.java:20-43):
    ``min_hops`` is subsumed — the loop only exits early when an
    iteration discovers NO new node, a strictly stronger condition than
    the reference's "best list stopped improving after minHops";
    ``max_explore`` caps cumulative scored nodes at max_explore per
    (query, segment) on average (the batch analog of the per-traversal
    visited cap).

    ``vec`` (seg_id, vec_id, embedding), the broadcast query frame
    ``qdf`` and the broadcast per-segment ``ef_df`` are ``search``'s own.
    """
    spark = index.spark
    adj = index.adjacency(sealed_segs).select("seg_id", "vec_id", "neighbor_ids")
    # Every iteration would otherwise auto-broadcast the adjacency and
    # vector join sides afresh; broadcasts pile up on the driver heap
    # across iterations. Disable auto-broadcast for the traversal —
    # every action here runs inside this function (each round is
    # materialized), explicit broadcast() hints above still apply, and
    # shuffle joins on (seg_id, vec_id) are the scale-correct plan.
    # SESSION-SCOPED WINDOW: the toggle is conf-level, so an UNRELATED
    # query planned on this session concurrently with the traversal
    # also loses auto-broadcast for that window (it regains it at the
    # finally). Single-driver batch jobs — the intended deployment —
    # are unaffected; concurrent-query apps should run traversal
    # searches on their own spark.newSession() (shared context,
    # isolated conf).
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        max_explore = params.max_explore
        explore_budget = (
            max_explore * n_queries * len(sealed_segs) if max_explore else None
        )
        return _traverse_loop(
            adj, vec, qdf, ef_df, seeds, metric, params.max_iters, explore_budget
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


# Test/debug hook: physical plan of each traversal round's scoring join,
# refreshed per _traverse_loop call. Lets tests assert the join strategy
# (broadcast frontier probe, no full-table sort-merge) without exposing
# internals in the public API. Capture is OFF by default: production
# rounds should not pay py4j plan-stringification, and the module-global
# list is not concurrency-safe — tests flip the flag around a search.
_CAPTURE_TRAVERSAL_PLANS = False
_TRAVERSAL_PLANS: list[str] = []


def _traverse_loop(adj, vec, qdf, ef_df, seeds, metric, max_iters, explore_budget=None):
    # visited/best state: (query_id, seg_id, vec_id, dist). Each round's
    # plan embeds the previous state MULTIPLE times (union + anti-join),
    # so without lineage truncation the logical plan grows exponentially
    # and Catalyst analysis itself OOMs — localCheckpoint (eager) caps
    # every round's plan at a leaf, the canonical iterative-join pattern.
    _TRAVERSAL_PLANS.clear()
    state = seeds.localCheckpoint()
    frontier = state
    explored = 0
    for _ in range(max_iters):
        # The frontier (≤ Q×S×ef rows) and visited state are the bounded
        # sides; adjacency and vectors are the 100 TB sides. Broadcast
        # the bounded sides EXPLICITLY (auto-broadcast is off here) so
        # every iteration is a broadcast-hash probe of the big tables —
        # zero full-table shuffles per hop, vs max_iters sort-merge
        # shuffles of adjacency+vectors without the hints.
        expanded = (
            adj.join(
                F.broadcast(frontier.select("query_id", "seg_id", "vec_id")),
                ["seg_id", "vec_id"],
            )
            .select(
                "query_id", "seg_id", F.explode("neighbor_ids").alias("vec_id")
            )
            .dropDuplicates(["query_id", "seg_id", "vec_id"])
            .join(
                F.broadcast(state.select("query_id", "seg_id", "vec_id")),
                ["query_id", "seg_id", "vec_id"],
                "left_anti",
            )
        )
        scored = (
            vec.join(F.broadcast(expanded), ["seg_id", "vec_id"])
            .join(qdf, "query_id")
            .select(
                "query_id",
                "seg_id",
                "vec_id",
                distance_for_metric(F.col("embedding"), F.col("qvec"), metric).alias("dist"),
            )
        )
        if _CAPTURE_TRAVERSAL_PLANS:
            _TRAVERSAL_PLANS.append(
                scored._jdf.queryExecution().executedPlan().toString()
            )
        scored = scored.localCheckpoint()
        n_new = scored.count()
        if n_new == 0:
            break
        explored += n_new
        # maxExplore cap: fold the final round's discoveries into the
        # best list, then stop expanding
        over_budget = explore_budget is not None and explored >= explore_budget
        # bound state to top-ef per (query, segment): the best-list cap
        w = Window.partitionBy("query_id", "seg_id").orderBy(
            F.col("dist").asc(), F.col("vec_id").asc()
        )
        # no checkpoint here: after scored's checkpoint, state(i+1)'s
        # only un-truncated reference to state(i) is the union, so
        # lineage depth grows LINEARLY in rounds. Saves a job per round.
        state = (
            state.unionByName(scored)
            .withColumn("_rn", F.row_number().over(w))
            .join(ef_df, "seg_id")
            .filter(F.col("_rn") <= F.col("ef"))
            .drop("_rn", "ef")
        )
        if over_budget:
            break
        # Best-first fidelity: expand only newly discovered nodes that
        # SURVIVED the ef cut (the reference expands from the best list,
        # fdb/FdbVectorIndex.java:911-968, not from every visited node).
        # Nodes worse than the current ef-th candidate cannot improve
        # the result through expansion in a well-linked graph; dropping
        # them shrinks the frontier and ends the loop as soon as a round
        # stops improving the best list — the reference's convergence.
        frontier = scored.join(
            F.broadcast(state.select("query_id", "seg_id", "vec_id")),
            ["query_id", "seg_id", "vec_id"],
            "left_semi",
        )
    return state


def search(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    params: SearchParams | None = None,
    filter_gids: DataFrame | None = None,
) -> DataFrame:
    """Batch KNN: (query_id, embedding) → (query_id, gid, distance,
    score, payload, rank) with exactly ≤k rows per query.

    ``filter_gids`` (optional, a DataFrame with a ``gid`` column) is
    metadata-filtered ANN — the production vector-store feature where a
    predicate restricts the searchable set. The allow-list PRE-filters
    the scans (brute vectors and the sealed PQ codes are semi-joined
    before any scoring), so candidate pools are spent on allowed
    vectors only — not post-filtered after top-k, which would underfill
    selective filters. BRUTE and the degenerate-exact configs are
    therefore EXACT over the filtered set. GRAPH traversal itself stays
    unfiltered (the standard filtered-HNSW stance: disallowed nodes
    remain traversable so allowed regions stay reachable through them)
    and disallowed results are dropped at the exact re-rank; very
    selective filters warrant a larger ef/oversample, the usual
    pre-filter ANN trade.
    """
    params = params or SearchParams()
    allowed = _allow_list(filter_gids)
    if params.mode == "BEAM":
        _warn_beam_once()
    cfg = index.config
    spark = index.spark
    metric = Metric(cfg.metric)
    qrows = queries.select("query_id", "embedding").collect()
    if not qrows:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    qlist = [(int(r[0]), list(r[1])) for r in qrows]
    brute_segs, sealed_segs, ef_by_seg, per_seg_limit = _plan_segments(index, params, k)
    parts: list[DataFrame] = []

    if brute_segs:
        pruned = _live_vectors(index, allowed, brute_segs).select(
            F.col("gid").alias("id"), _embedding(params).alias("embedding")
        )
        partial = pruned.mapInPandas(
            _partial_topk_mapper(qlist, per_seg_limit, metric, "id", "embedding"),
            schema="query_id long, id long, distance double",
        )
        parts.append(partial.select("query_id", F.col("id").alias("gid"), "distance"))

    if sealed_segs:
        cbs_bc, rots_bc = _broadcast_codebooks(index, sealed_segs)
        # phase a: approx scan over codes only (embeddings not read here).
        # GRAPH keeps its scan unfiltered — seeds may legitimately sit
        # outside the filter (module doc)
        codes_src = _scan_codes(
            index, sealed_segs, allowed if params.mode != "GRAPH" else None
        )
        cand = codes_src.mapInPandas(
            _pq_scan_fn(cbs_bc, rots_bc, qlist, ef_by_seg, metric), _CAND_SCHEMA
        )
        # merge per-partition partial top-ef into per-(query,segment) top-ef
        w_seg = Window.partitionBy("query_id", "seg_id").orderBy(
            F.col("approx").asc(), F.col("vec_id").asc()
        )
        ef_df = F.broadcast(
            spark.createDataFrame(list(ef_by_seg.items()), "seg_id int, ef int")
        )
        cand = (
            cand.withColumn("rn", F.row_number().over(w_seg))
            .join(ef_df, "seg_id")
            .filter(F.col("rn") <= F.col("ef"))
            .drop("rn", "ef")
        )
        qdf = F.broadcast(spark.createDataFrame(qlist, "query_id long, qvec array<float>"))
        if params.mode == "GRAPH":
            # G5 traversal: seeds → iterative frontier expansion over the
            # neighbor graph; the traversal's best list replaces the PQ
            # candidate pool before re-rank. Seed selection per
            # SearchParams.seed_strategy (api/SearchParams.java:39-42):
            # - PQ_SEED_ONLY: top-beam of the PQ approx scan (the
            #   reference's default seeding, fdb/FdbVectorIndex.java:794-799)
            # - RANDOM_PIVOTS: `pivots` deterministic pseudo-random entry
            #   points per segment (fdb/FdbVectorIndex.java:801-812) —
            #   hash-ordered vec_ids, shared across the query batch (the
            #   batch adaptation of per-query random pivots), scored
            #   exactly; no PQ information used for seeding.
            vec = index.vectors(states=SEARCHABLE_SEALED).select(
                "seg_id", "vec_id", "embedding"
            )
            if params.seed_strategy == "RANDOM_PIVOTS":
                w_piv = Window.partitionBy("seg_id").orderBy(
                    F.hash(F.col("vec_id"), F.lit(cfg.seed)).asc(), F.col("vec_id").asc()
                )
                piv_ids = (
                    vec.select("seg_id", "vec_id")
                    .withColumn("_rn", F.row_number().over(w_piv))
                    .filter(F.col("_rn") <= max(1, params.pivots))
                    .drop("_rn")
                )
                qid_df = F.broadcast(
                    spark.createDataFrame([(qid,) for qid, _ in qlist], "query_id long")
                )
                seed_ids = piv_ids.crossJoin(qid_df).select(
                    "query_id", "seg_id", "vec_id"
                )
            else:
                beam_df = F.broadcast(
                    spark.createDataFrame(
                        [
                            (s, params.beam or max(k, ef_by_seg[s] // 4))
                            for s in sealed_segs
                        ],
                        "seg_id int, beam int",
                    )
                )
                w_seed = Window.partitionBy("query_id", "seg_id").orderBy(
                    F.col("approx").asc(), F.col("vec_id").asc()
                )
                seed_ids = (
                    cand.withColumn("_rn", F.row_number().over(w_seed))
                    .join(beam_df, "seg_id")
                    .filter(F.col("_rn") <= F.col("beam"))
                    .select("query_id", "seg_id", "vec_id")
                )
            seeds = (
                vec.join(F.broadcast(seed_ids), ["seg_id", "vec_id"])
                .join(qdf, "query_id")
                .select(
                    "query_id",
                    "seg_id",
                    "vec_id",
                    distance_for_metric(F.col("embedding"), F.col("qvec"), metric).alias(
                        "dist"
                    ),
                )
            )
            cand = _graph_traverse_candidates(
                index, sealed_segs, len(qlist), vec, qdf, ef_df, seeds, metric, params
            ).select("query_id", "seg_id", "vec_id")
        elif params.mode == "BEAM":
            # deprecated beam expansion (WARN-once above) — served via
            # the in-task cogroup searcher; the collected query batch
            # just becomes its DataFrame query side
            q_beam = spark.createDataFrame(qlist, "query_id long, __qvec array<float>")
            cand = _graph_cogroup_candidates(
                index, q_beam, sealed_segs, ef_by_seg, metric, params, k
            )
        # candidate set is bounded (≤ Q×S×ef (seg_id, vec_id) triples) —
        # broadcast it so the re-rank is a probe of the vectors table,
        # not a shuffle of it
        parts.append(
            _rerank_capped(
                index, F.broadcast(cand), qdf, "qvec", params, metric, allowed, per_seg_limit
            )
        )

    return _merge_and_attach(index, parts, k, metric)


def _merge_and_attach(
    index: VectorIndex, parts: list[DataFrame], k: int, metric: Metric
) -> DataFrame:
    """T4 global merge + payload attach, shared by ``search`` (collected
    query batch) and ``search_join`` (DataFrame query side): the union of
    the (query_id, gid, distance) candidate parts → top-k with
    rank/score → payload."""
    if not parts:
        return index.spark.createDataFrame([], _RESULT_SCHEMA)
    merged = functools.reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("gid").asc())
    topk = (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", score_from_distance(F.col("distance"), metric))
    )
    if not index.has_payload:
        # payload-free index (the common analytical case): skip the
        # attach join — at scale it would shuffle the whole vectors
        # table to decorate ≤ Q×k rows with NULLs
        return topk.select(
            "query_id",
            "gid",
            "distance",
            "score",
            F.lit(None).cast("binary").alias("payload"),
            "rank",
        )
    # payload attach: exclude WRITING (a gid exists in both source and
    # destination mid-compaction; the searchable copy is authoritative)
    payloads = index.vectors(
        states=tuple(SEARCHABLE_BRUTE) + tuple(SEARCHABLE_SEALED)
    ).select("gid", "payload")
    # Two broadcast-honorable joins (a broadcast hint on the preserved
    # side of an outer join is silently DROPPED by Spark — a right-outer
    # with broadcast(topk) degrades to a full sort-merge shuffle of the
    # payload table):
    # 1. INNER join payloads ⋈ broadcast(topk gids): streams the payload
    #    table past a tiny hash map → ≤ Q×k(+dup) matching rows;
    # 2. LEFT join topk ⋈ broadcast(hits): decorates the ≤ Q×k results.
    # The mid-compaction double-gid dedup happens on the tiny hit set
    # (both copies carry identical payload bytes).
    # lazy checkpoint: topk is referenced twice below (gid probe +
    # decorate); without it the whole search pipeline would compute
    # twice. eager=False → no job here, materialized once on first use.
    topk = topk.localCheckpoint(eager=False)
    hits = (
        payloads.join(F.broadcast(topk.select("gid")), "gid")
        .dropDuplicates(["gid"])
    )
    return (
        topk.join(F.broadcast(hits), "gid", "left")
        .select("query_id", "gid", "distance", "score", "payload", "rank")
    )


def _stream_topk_reducer(k: int):
    """Per-partition streaming top-k over a (query_id, gid, distance)
    stream: folds each Arrow batch into a running best-k per query, so
    task memory is O(Q×k) regardless of partition size, and each
    partition emits ≤ Q×k rows — the map-side combine that makes the
    global merge shuffle O(partitions × Q × k), never O(N×Q)."""

    def reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pool = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            pool = pool.sort_values(
                ["query_id", "distance", "gid"], kind="mergesort", ignore_index=True
            )
            best = pool.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    return reduce


def search_join(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    params: SearchParams | None = None,
    filter_gids: DataFrame | None = None,
) -> DataFrame:
    """Distributed index search for query batches too large to collect:
    the query side stays a DataFrame end-to-end — no driver
    materialization anywhere on the path (``search`` collects its batch
    into the Arrow mapper closure, the widened form of the reference's
    one-query API, fdb/FdbVectorIndex.java:351-479; this is the
    million-query form).

    Modes:

    - ``AUTO`` / ``BRUTE`` — exhaustive-exact: visibility-filtered
      vectors (state dispatch + tombstone filter, as in ``search``)
      ⋈ BROADCAST(queries) — Catalyst builds the query-side hash
      relation executor-side from the exchange — then the exact metric
      distance in codegen, projected to a narrow (query_id, gid,
      distance) stream BEFORE the Arrow pass, then a per-partition
      streaming top-k reduce (O(Q×k) task memory) and the shared
      global merge + payload attach. Exhaustive by construction, so
      results are exact. (Unlike ``search``, AUTO here is exhaustive:
      with no driver-seeded per-query state the exact plan is the
      default; opt into PQ explicitly.)
    - ``PQ`` — the distributed two-phase approx plan: sealed segments
      go through the PQ-codes scan via a bucketed COGROUP (see
      ``_pq_cogroup_candidates``) — the codes table and the replicated
      query DF meet in ``applyInPandas`` with the codebooks as a Spark
      broadcast, LUT distances per (query, segment), top-ef per
      (query, segment) — then the exact re-rank joins candidates back
      to raw vectors with the query DF broadcast. Brute-state segments
      (ACTIVE/PENDING) are scored exhaustively and merged, exactly as
      in ``search``. With ef ≥ segment size the candidate pool is the
      whole segment and the result equals BRUTE — the hash-checkable
      degenerate twin.

    - ``GRAPH`` — distributed best-first traversal: the unified
      artifacts scan (codes + adjacency in ONE relation, split by the
      kind column in-task) cogroups with the replicated query DF; each
      task runs the actual ef-search loop in NumPy per (query,
      segment) — deterministic RANDOM_PIVOTS entry points, lazy LUT
      distances only for expanded nodes (never the whole segment), the
      best-first stop rule — then the shared exact re-rank. ``pivots ≥
      segment size`` makes it exhaustive-exact (the hash-checkable
      twin). Unlike ``search``'s collected path (driver-seeded
      iterative joins — better when the traversal touches a tiny
      fraction of huge segments and Q is small), the frontier state
      here lives inside the task, so a million-query batch stays
      distributed end-to-end.

    ``filter_gids`` (optional ``gid`` allow-list DataFrame) behaves as
    in ``search``: the exhaustive scans and the PQ cogroup's codes side
    are PRE-filtered (semi-joins), GRAPH/BEAM traversal stays
    unfiltered with disallowed results dropped at the exact re-rank.
    """
    params = params or SearchParams()
    if params.mode not in ("AUTO", "BRUTE", "PQ", "GRAPH", "BEAM"):
        raise ValueError(
            f"search_join supports AUTO/BRUTE (exhaustive), PQ, GRAPH, and "
            f"BEAM (deprecated); got mode={params.mode!r}"
        )
    if params.mode == "BEAM":
        _warn_beam_once()
    allowed = _allow_list(filter_gids)
    metric = Metric(index.config.metric)
    q = queries.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("embedding").alias("__qvec"),
    )
    if params.mode in ("AUTO", "BRUTE"):
        scored = _exhaustive_topk(_live_vectors(index, allowed), q, params, metric, k)
        return _merge_and_attach(index, [scored], k, metric)

    # -- PQ mode: two-phase over sealed segments + exhaustive brute part
    brute_segs, sealed_segs, ef_by_seg, per_seg_limit = _plan_segments(index, params, k)
    parts: list[DataFrame] = []
    if brute_segs:
        parts.append(
            _exhaustive_topk(
                _live_vectors(index, allowed, brute_segs), q, params, metric, per_seg_limit
            )
        )

    if sealed_segs:
        if params.mode in ("GRAPH", "BEAM"):
            cand = _graph_cogroup_candidates(
                index, q, sealed_segs, ef_by_seg, metric, params, k
            )
        else:
            cand = _pq_cogroup_candidates(index, q, sealed_segs, ef_by_seg, metric, allowed)
        # exact re-rank of the ≤ Q×S×ef candidates. NO broadcast hint
        # on the query join: at moderate Q AQE
        # picks broadcast from the observed size anyway, and at the
        # million-query scale this mode exists for, a forced broadcast
        # of the query relation would be the memory wall — the shuffle
        # join on query_id is the correct fallback and both sides here
        # are already bounded (candidates ≤ Q×S×ef, queries = Q).
        parts.append(
            _rerank_capped(index, cand, q, "__qvec", params, metric, allowed, per_seg_limit)
        )

    return _merge_and_attach(index, parts, k, metric)


def _exhaustive_topk(
    vec: DataFrame, q: DataFrame, params: SearchParams, metric: Metric, limit: int
) -> DataFrame:
    """``search_join``'s exhaustive scan: ``vec`` ⋈ BROADCAST(q), the
    exact distance in codegen, then a per-partition streaming top-``limit``
    (query_id, gid, distance) reduce."""
    scored = (
        vec.select("gid", _embedding(params).alias("__vvec"))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "gid",
            distance_for_metric(F.col("__vvec"), F.col("__qvec"), metric).alias("distance"),
        )
    )
    return scored.mapInPandas(
        _stream_topk_reducer(limit), "query_id long, gid long, distance double"
    )


def _graph_cogroup_candidates(
    index: VectorIndex,
    q: DataFrame,
    sealed_segs: list[int],
    ef_by_seg: dict[int, int],
    metric: Metric,
    params: SearchParams,
    k: int,
) -> DataFrame:
    """Distributed GRAPH (best-first) candidate generation with a
    DataFrame query side — the cogroup re-expression of BEST_FIRST
    (fdb/FdbVectorIndex.java:911-968) that keeps a million-query batch
    distributed end-to-end.

    Same fragment-and-replicate shape as ``_pq_cogroup_candidates``,
    with ONE scan feeding both inputs: the unified artifacts table
    serves codes AND adjacency rows (kind ∈ {code, adj}) bucketed by
    hash(seg_id), so no extra join materializes the (codes ⋈ adjacency)
    pair — the task reassembles them from the kind column. Task memory
    is one bucket's codes (N·m bytes) + neighbor lists (N·degree ints),
    within the segment-bounded build-task contract.

    Per (segment, query) the task runs the ACTUAL best-first loop in
    NumPy: deterministic RANDOM_PIVOTS entry points (seeded by seg_id —
    this mode exists to AVOID the full-codes scan, so PQ-top-beam
    seeding is out of scope by construction; it belongs to mode=PQ,
    which subsumes it at batch scale), LUT-approximate distances
    computed lazily per expanded frontier (never for the whole
    segment), an ef-bounded best list, and the stop rule "nearest
    unexpanded candidate is worse than the ef-th best". ``pivots ≥
    segment size`` seeds every node and the result degenerates to the
    exact full ranking — the hash-checkable twin, mirroring the PQ
    mode's ef=cap twin. Neighbors whose artifacts were vacuumed away
    are skipped (the join-drop semantics of the driver-path traversal);
    tombstoned-but-unvacuumed nodes are filtered at the exact re-rank
    (F1), exactly as in mode=PQ.

    Mode ``BEAM`` runs the reference's deprecated beam expansion
    instead (fdb/FdbVectorIndex.java diskannExpand:841-903) with its
    exact loop semantics: per hop, score the UNVISITED neighbors of
    the whole frontier (additions capped so the expanded list never
    exceeds ef/maxExplore, in frontier-then-neighbor order), sort
    newly by approx distance, next frontier = top ``beam`` of newly
    (or of newly ∪ frontier when ``refine_frontier``), ONLY the chosen
    beam joins the expanded candidate list; empty-newly hops repeat
    the frontier until ``min_hops``. ``pivots ≥ segment size`` seeds
    (and caps at ef ≥ n) every node → degenerate-exact, the same
    hash-checkable-twin pattern as GRAPH.
    """
    cbs_bc, rots_bc = _broadcast_codebooks(index, sealed_segs)
    seed = index.config.seed
    mode, pivots, beam = params.mode, params.pivots, params.beam
    max_iters, min_hops = params.max_iters, params.min_hops
    max_explore, refine_frontier = params.max_explore, params.refine_frontier

    art = (
        index._artifacts()
        .filter(F.col("kind").isin("code", "adj") & F.col("seg_id").isin(sealed_segs))
        .select("seg_id", "kind", "vec_id", "codes", "neighbor_ids")
    )

    def fn(art_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

        if len(art_pdf) == 0 or len(q_pdf) == 0:
            return _cand_frame([])
        cb_map = cbs_bc.value
        qids = q_pdf["query_id"].to_numpy(dtype=np.int64)
        qvecs = _unit_queries(q_pdf["__qvec"], metric)
        out = []
        for seg_id, grp in art_pdf.groupby("seg_id"):
            seg_id = int(seg_id)
            cb = cb_map.get(seg_id)
            if cb is None:
                continue
            m = cb.shape[0]
            # sort by vec_id: row order (and thus heap tiebreaks) must
            # not depend on partition read order
            crows = grp[grp["kind"] == "code"].sort_values("vec_id")
            arows = grp[grp["kind"] == "adj"]
            if len(crows) == 0:
                continue
            vec_ids = crows["vec_id"].to_numpy(dtype=np.int64)
            mat = np.frombuffer(
                b"".join(crows["codes"].to_numpy()), dtype=np.uint8
            ).reshape(len(crows), m)
            pos = {int(v): i for i, v in enumerate(vec_ids)}
            nbrs: dict[int, np.ndarray] = {}
            for v, nb in zip(arows["vec_id"], arows["neighbor_ids"]):
                idx = [pos[int(x)] for x in nb if int(x) in pos]
                nbrs[pos[int(v)]] = np.asarray(idx, dtype=np.int64)
            n = len(vec_ids)
            ef = min(ef_by_seg[seg_id], n)
            # deterministic entry points: seeded by (index seed, seg_id),
            # drawn over the row space — rerun/partitioning-stable
            rng = np.random.default_rng((seed << 16) ^ seg_id)
            n_seeds = min(max(pivots, 1), n)
            seeds = (
                np.arange(n)
                if n_seeds >= n
                else rng.choice(n, size=n_seeds, replace=False)
            )
            cols = np.arange(m)
            beam_w = beam or max(k, ef // 4)
            max_expl = max_explore if max_explore is not None else float("inf")
            seg_rot = rots_bc.value.get(seg_id)
            for qid, qv in zip(qids, qvecs):
                lut = build_lut(cb, qv @ seg_rot if seg_rot is not None else qv)
                dist = np.full(n, np.inf)
                dist[seeds] = lut[cols[None, :], mat[seeds]].sum(axis=1)
                visited = np.zeros(n, dtype=bool)
                visited[seeds] = True
                if mode == "BEAM":
                    # diskannExpand loop, batch-faithful: expanded
                    # starts as the seeds (sorted by approx for
                    # deterministic cap order)
                    frontier = sorted(
                        ((float(dist[i]), int(i)) for i in seeds)
                    )
                    expanded = list(frontier)
                    for hop in range(max_iters):
                        if (
                            not frontier
                            or len(expanded) >= ef
                            or len(expanded) >= max_expl
                        ):
                            break
                        newly = []
                        for _, a in frontier:
                            for nb in nbrs.get(a, ()):
                                nb = int(nb)
                                if (
                                    len(expanded) + len(newly) >= ef
                                    or len(expanded) + len(newly) >= max_expl
                                ):
                                    break
                                if visited[nb]:
                                    continue
                                visited[nb] = True
                                d = float(lut[cols, mat[nb]].sum())
                                dist[nb] = d
                                newly.append((d, nb))
                        newly.sort()
                        if not newly:
                            if hop + 1 < min_hops:
                                continue  # force minimum hops
                            break
                        if refine_frontier:
                            union = sorted(newly + frontier)
                            nxt = union[: min(beam_w, len(union))]
                        else:
                            nxt = newly[: min(beam_w, len(newly))]
                        expanded.extend(nxt)
                        frontier = nxt
                    # dedupe (refine can re-pick frontier members) and
                    # keep the candidate pool ef-bounded like the
                    # reference's expanded list
                    seen: dict[int, float] = {}
                    for d, i in expanded:
                        if i not in seen:
                            seen[i] = d
                    take = sorted(
                        ((d, vec_ids[i]) for i, d in seen.items())
                    )[:ef]
                    out.append((qid, seg_id, [t[1] for t in take], [t[0] for t in take]))
                    continue
                # best list = max-heap of (-d, row); cand = min-heap
                cand = [(dist[i], int(i)) for i in seeds]
                heapq.heapify(cand)
                best = [(-dist[i], int(i)) for i in seeds]
                heapq.heapify(best)
                while len(best) > ef:
                    heapq.heappop(best)
                while cand:
                    d, v = heapq.heappop(cand)
                    if len(best) >= ef and d > -best[0][0]:
                        break  # nearest unexpanded worse than ef-th best
                    new = nbrs.get(v)
                    if new is None or not len(new):
                        continue
                    new = new[~visited[new]]
                    if not len(new):
                        continue
                    visited[new] = True
                    dist[new] = lut[cols[None, :], mat[new]].sum(axis=1)
                    for i in new:
                        di = float(dist[i])
                        if len(best) < ef or di < -best[0][0]:
                            heapq.heappush(cand, (di, int(i)))
                            heapq.heappush(best, (-di, int(i)))
                            while len(best) > ef:
                                heapq.heappop(best)
                take = sorted(((-nd, vec_ids[i]) for nd, i in best))
                out.append((qid, seg_id, [t[1] for t in take], [t[0] for t in take]))
        return _cand_frame(out)

    return _bucket_cogroup(art, q, len(sealed_segs), fn)


def _pq_cogroup_candidates(
    index: VectorIndex,
    q: DataFrame,
    sealed_segs: list[int],
    ef_by_seg: dict[int, int],
    metric: Metric,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Distributed PQ candidate generation with a DataFrame query side:
    the replicated-join re-expression of ``search``'s closure-captured
    codes scan (S3 + T1, fdb/FdbVectorIndex.java:1057-1079) — the same
    ``_pq_candidates`` kernel, fed by ``_bucket_cogroup``. Nothing is
    collected to the driver; the big side (codes) shuffles once on the
    bucket key."""
    cbs_bc, rots_bc = _broadcast_codebooks(index, sealed_segs)

    def fn(codes_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        return _pq_candidates(
            codes_pdf,
            q_pdf["query_id"].to_numpy(dtype=np.int64),
            _unit_queries(q_pdf["__qvec"], metric),
            cbs_bc.value,
            rots_bc.value,
            ef_by_seg,
            {},
        )

    return _bucket_cogroup(
        _scan_codes(index, sealed_segs, allowed), q, len(sealed_segs), fn
    )


def _bucket_cogroup(side: DataFrame, q: DataFrame, n_segs: int, fn) -> DataFrame:
    """Fragment-and-replicate cogroup of a per-segment artifacts ``side``
    with the query DataFrame ``q``. ``side`` buckets by hash(seg_id) — a
    whole segment shares a bucket, so its LUTs compute once per bucket —
    and ``q`` replicates to every bucket via ``explode(sequence(0,
    B-1))``: a Q×B-row shuffle of the SMALL side. The two meet in an
    ``applyInPandas`` cogroup running ``fn`` → ``_CAND_SCHEMA`` rows.

    Task memory is one bucket's artifacts (≈ N·m/B bytes of codes) + Q
    query rows, with one bucket per sealed segment, capped at 256."""
    B = min(max(n_segs, 1), 256)
    side = side.withColumn("__b", F.pmod(F.hash("seg_id"), F.lit(B)))
    q_rep = q.withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
    return (
        side.groupBy("__b")
        .cogroup(q_rep.groupBy("__b"))
        .applyInPandas(fn, _CAND_SCHEMA)
        .select("query_id", "seg_id", "vec_id")
    )
