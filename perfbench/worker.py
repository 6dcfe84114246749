"""One benchmark run inside one Spark session: set-up, timed closed loop,
output checks, and (traced) the per-layer figures.

Started by ``run.py``, which owns the environment (PYTHONPATH, event
log, scratch dirs) and the process-tree memory sampling. Writes its
result as JSON to ``--out``.

Workloads:

- ``query``: set-up builds an index of ``n_index`` vectors from scratch
  and runs one untimed query cycle; the timed loop repeats a cycle of one
  default-mode (AUTO) batch and one exact (BRUTE) batch over the same
  queries, with the driver codebook cache warm and no writes.
- ``churn``: set-up builds a sealed index of ``churn_base`` vectors and
  runs an untimed half round (add a segment, one query cycle, expire the
  first half segment, build, vacuum); each timed round adds one
  segment's worth of vectors, runs one
  AUTO and one BRUTE batch over sealed and PENDING segments, expires as
  many of the oldest live gids as it added, builds what rotated, vacuums
  segments past the deleted-ratio gate and compacts whatever the planner
  proposes. The half-segment lead makes every round alike: the expiry
  empties the oldest segment and half-deletes the next, so each round
  rotates and builds one segment, vacuums two (one drop, one rewrite)
  and compacts those two into one. Every registry write clears the
  codebook cache, so queries run cold.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback

import numpy as np

import eventlog
import gen
from spans import Tracer

SCALES = {
    # 4 segments of 500 build in one wave of 4 tasks on a 4-core host.
    # ef=16 keeps the PQ candidate pool at 3.2% of a segment, the share
    # the default ef=160 has on 5,000-vector segments, so recall@10 sits
    # at 0.95-0.99 instead of at 1.0 on these small segments.
    "full": dict(
        d=64, seg=500, n_index=2000, queries=256, k=10, ef=16,
        query_cycles=3, churn_base=1000, churn_lead=250, churn_rounds=2,
        graph_queries=32,
    ),
    "tiny": dict(
        d=16, seg=100, n_index=400, queries=16, k=5, ef=8,
        query_cycles=3, churn_base=200, churn_lead=50, churn_rounds=2,
        graph_queries=4,
    ),
}


class Failures:
    """Counts operations attempted and those that raised or failed a
    check; keeps the first messages for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self) -> None:
        self.attempted += 1

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.messages) < 20:
            self.messages.append(msg)

    def check(self, ok: bool, msg: str) -> bool:
        self.op()
        if not ok:
            self.fail(msg)
        return ok


# ---------------------------------------------------------------------------
# exact reference and result checks
# ---------------------------------------------------------------------------

def exact_topk(x: np.ndarray, live: np.ndarray, q: np.ndarray, k: int):
    """numpy exact L2 top-k over the live rows of ``x`` (row = gid):
    (gids (Q, k), distances (Q, k)), ties broken by gid."""
    ids = np.flatnonzero(live)
    xv = x[ids].astype(np.float64)
    qv = q.astype(np.float64)
    d2 = (xv * xv).sum(1)[None, :] - 2.0 * qv @ xv.T + (qv * qv).sum(1)[:, None]
    width = min(len(ids), 4 * k)
    head = np.argpartition(d2, width - 1, axis=1)[:, :width]
    out_g = np.empty((len(q), k), dtype=np.int64)
    out_d = np.empty((len(q), k))
    for i in range(len(q)):
        cand = ids[head[i]]
        diff = x[cand].astype(np.float64) - qv[i]
        dist = np.sqrt((diff * diff).sum(1))
        order = np.lexsort((cand, dist))[:k]
        out_g[i], out_d[i] = cand[order], dist[order]
    return out_g, out_d


def by_query(rows, n_queries: int, k: int, fails: Failures, label: str):
    """Result rows → (gids (Q, k), distances (Q, k)) ordered by rank,
    checking exactly k rows per query, ranks 1..k and unique gids."""
    gids = np.full((n_queries, k), -1, dtype=np.int64)
    dist = np.full((n_queries, k), np.nan)
    seen = np.zeros((n_queries, k), dtype=bool)
    shape_ok = True
    for r in rows:
        qid, rank = r["query_id"], r["rank"]
        if not (0 <= qid < n_queries and 1 <= rank <= k) or seen[qid, rank - 1]:
            shape_ok = False
            continue
        seen[qid, rank - 1] = True
        gids[qid, rank - 1], dist[qid, rank - 1] = r["gid"], r["distance"]
    shape_ok = shape_ok and len(rows) == n_queries * k and bool(seen.all())
    unique_ok = all(len(set(g)) == k for g in gids)
    fails.check(
        shape_ok and unique_ok,
        f"{label}: want exactly {k} rows per query with ranks 1..{k} and "
        f"unique gids (got {len(rows)} rows for {n_queries} queries)",
    )
    return gids, dist


def check_exact(gids, dist, ref_g, ref_d, fails: Failures, label: str) -> None:
    """BRUTE results equal the numpy exact top-k: distances to 1e-4 at
    every rank, and the same gid at every rank unless the reference has
    a distance tie there."""
    close = np.abs(dist - ref_d) <= 1e-4
    same = gids == ref_g
    tie = np.zeros_like(same)
    tie[:, 1:] |= np.abs(np.diff(ref_d, axis=1)) <= 1e-6
    tie[:, :-1] |= np.abs(np.diff(ref_d, axis=1)) <= 1e-6
    ok = bool(np.all(close & (same | tie)))
    bad = int(np.sum(~(close & (same | tie))))
    fails.check(ok, f"{label}: {bad} (query, rank) cells differ from numpy exact top-k")


def recall(gids, ref_g) -> float:
    k = ref_g.shape[1]
    return float(
        np.mean([len(set(a) & set(b)) / k for a, b in zip(gids, ref_g)])
    )


# ---------------------------------------------------------------------------
# index plumbing
# ---------------------------------------------------------------------------

def dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Bench:
    def __init__(self, args, spark, tracer: Tracer, work: str):
        from vectorsearch_spark.config import IndexConfig
        from vectorsearch_spark.index import SearchParams, VectorIndex

        self.args = args
        self.cfg = SCALES[args.scale]
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.fails = Failures()
        self.VectorIndex, self.SearchParams = VectorIndex, SearchParams
        self.index_config = IndexConfig(
            name="perfbench", dimension=self.cfg["d"], max_segment_size=self.cfg["seg"]
        )
        self.samples: dict[str, list[float]] = {}
        self.recalls: list[float] = []
        self.graph: dict | None = None  # traced query runs: the GRAPH batch
        self.maint = {"vacuums": 0, "compactions": 0}
        self.recording = True  # False: warm-up, walls are not sampled

    def sample(self, key: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(key, []).append(value)

    def timed(self, name: str, fn, *a, **kw):
        """Run one index call inside a span; its wall goes to samples.
        Warm-up calls are not sampled and their spans are named
        ``warmup.<name>``."""
        t0 = time.perf_counter()
        with self.tracer.span(name if self.recording else f"warmup.{name}"):
            out = fn(*a, **kw)
        self.sample(name, time.perf_counter() - t0)
        return out

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def build_index(self, path: str, vec_path: str):
        """create + add + build; returns (index, seconds)."""
        t0 = time.perf_counter()
        idx = self.VectorIndex.create(self.spark, path, self.index_config)
        if self.tracer.enabled:
            self._count_catalog(idx)
        self.fails.op()
        self.timed("index.ingest", idx.add, self.read(vec_path))
        self.fails.op()
        self.timed("index.build", idx.build)
        return idx, time.perf_counter() - t0

    def _count_catalog(self, idx) -> None:
        """Traced runs wrap ``codebooks_np`` in an ``index.catalog`` span:
        a call whose span launched no job was served by the driver
        codebook cache. ``rotations_np`` re-enters ``codebooks_np``;
        those nested calls are not counted."""
        plain_cb, plain_rot = idx.codebooks_np, idx.rotations_np
        state = {"nested": False}

        def codebooks_np(seg_ids):
            if state["nested"]:
                return plain_cb(seg_ids)
            name = "index.catalog" if self.recording else "warmup.index.catalog"
            with self.tracer.span(name, segments=len(seg_ids)):
                return plain_cb(seg_ids)

        def rotations_np(seg_ids):
            state["nested"] = True
            try:
                return plain_rot(seg_ids)
            finally:
                state["nested"] = False

        idx.codebooks_np, idx.rotations_np = codebooks_np, rotations_np

    def search(self, span: str, idx, qdf, params):
        """One collected search batch; an exception counts as a failed op."""
        self.fails.op()
        try:
            return self.timed(span, lambda: idx.search(qdf, self.cfg["k"], params).collect())
        except Exception:
            self.fails.fail(f"{span}: {traceback.format_exc(limit=3)}")
            return None

    # -- workloads -------------------------------------------------------
    def query_cycle(self, idx, qdf, q, ref_g, ref_d) -> None:
        """One AUTO batch (recall) and one BRUTE batch (exactness)."""
        k = self.cfg["k"]
        rows = self.search("search.pq", idx, qdf, self.SearchParams(ef=self.cfg["ef"]))
        if rows is not None:
            g, _ = by_query(rows, len(q), k, self.fails, "AUTO")
            if self.recording:
                self.recalls.append(recall(g, ref_g))
        rows = self.search("search.exact", idx, qdf, self.SearchParams(mode="BRUTE"))
        if rows is not None:
            g, d = by_query(rows, len(q), k, self.fails, "BRUTE")
            check_exact(g, d, ref_g, ref_d, self.fails, "BRUTE")

    def setup(self, n_base: int):
        """Shared set-up. Writes the inputs and builds the index, paying
        the session's one-off costs (JIT, first Python workers). Returns
        (vectors, queries, query DataFrame, index, add+build seconds)."""
        c, seed, w = self.cfg, self.args.seed, self.work
        x = gen.gaussian(seed, n_base, c["d"], gen.BASE)
        q = gen.gaussian(seed, c["queries"], c["d"], gen.QUERIES)
        gen.write_vectors(f"{w}/base.parquet", x)
        gen.write_queries(f"{w}/queries.parquet", q)
        idx, build_s = self.build_index(f"{w}/index", f"{w}/base.parquet")
        return x, q, self.read(f"{w}/queries.parquet"), idx, build_s

    def warm_up(self, idx, qdf, q, x, live) -> None:
        """One untimed query cycle of the full batch. A smaller warm-up
        batch left the first timed batches 20-30% slower than the next."""
        recording, self.recording = self.recording, False
        ref_g, ref_d = exact_topk(x, live, q, self.cfg["k"])
        self.query_cycle(idx, qdf, q, ref_g, ref_d)
        self.recording = recording

    def run_query(self) -> dict:
        c = self.cfg
        t0 = time.perf_counter()
        with self.tracer.span("setup", trace_id="setup"):
            x, q, qdf, idx, build_s = self.setup(c["n_index"])
            live = np.ones(len(x), dtype=bool)
            self.warm_up(idx, qdf, q, x, live)
        setup_s = time.perf_counter() - t0
        ref_g, ref_d = exact_topk(x, live, q, c["k"])

        # a fixed number of cycles at least: the first timed AUTO batch
        # still runs ~15% slower than the next, and a median over 3
        # cycles leaves it out whether or not the host is fast enough
        # to fit 3 cycles into --seconds
        t_end = time.perf_counter() + self.args.seconds
        n = 0
        while n < c["query_cycles"] or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            with self.tracer.span("query.cycle", trace_id=f"cycle.{n}"):
                self.query_cycle(idx, qdf, q, ref_g, ref_d)
            self.sample("cycle", time.perf_counter() - t0)
            n += 1
        self.fails.check(
            len(set(self.recalls)) == 1,
            f"AUTO recall differs between identical batches: {sorted(set(self.recalls))}",
        )
        if self.tracer.enabled:
            self.graph_batch(idx, ref_g)
        return self.summary(setup_s, build_s, len(x), idx, live, x, n)

    def graph_batch(self, idx, ref_g) -> None:
        """Traced runs only: one default-parameter GRAPH batch (its six
        traversal rounds cost ~20 s of Spark job floor on a 4-core host,
        too long for the timed loop)."""
        nq = self.cfg["graph_queries"]
        qdf = self.read(f"{self.work}/queries.parquet").filter(f"query_id < {nq}")
        rows = self.search("search.graph", idx, qdf, self.SearchParams(mode="GRAPH"))
        if rows is not None:
            g, _ = by_query(rows, nq, self.cfg["k"], self.fails, "GRAPH")
            self.graph = {
                "qps": nq / self.samples["search.graph"][-1],
                "recall_at_10": recall(g, ref_g[:nq]),
            }

    def run_churn(self) -> dict:
        c = self.cfg
        t0 = time.perf_counter()
        with self.tracer.span("setup", trace_id="setup"):
            self.x, q, qdf, idx, build_s = self.setup(c["churn_base"])
            self.live = np.ones(len(self.x), dtype=bool)
            # an untimed half round: add a segment, query over sealed and
            # PENDING segments, expire the half-segment lead, build and
            # vacuum, so that every step but compaction runs warm in the
            # timed rounds
            self.recording = False
            self.add_batch(0, idx)
            self.warm_up(idx, qdf, q, self.x, self.live)
            self.expire(0, idx, c["churn_lead"])
            self.timed("index.build", idx.build)
            self.vacuum(idx)
            self.recording = True
        setup_s = time.perf_counter() - t0

        # a fixed number of rounds at least, so that every run takes its
        # median over the same rounds
        t_end = time.perf_counter() + self.args.seconds
        r = 1
        while r <= c["churn_rounds"] or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            with self.tracer.span("churn.round", trace_id=f"round.{r}"):
                self.churn_round(r, idx, q, qdf)
            self.sample("cycle", time.perf_counter() - t0)
            r += 1
        self.fails.check(self.maint["vacuums"] >= 1, "churn run performed no vacuum")
        self.fails.check(self.maint["compactions"] >= 1, "churn run performed no compaction")
        return self.summary(setup_s, build_s, c["churn_base"], idx, self.live, self.x, r - 1)

    def add_batch(self, r: int, idx) -> None:
        """Add one segment's worth of new vectors."""
        c = self.cfg
        batch = gen.gaussian(self.args.seed, c["seg"], c["d"], gen.ROUND, r)
        add_path = f"{self.work}/add-{r}.parquet"
        gen.write_vectors(add_path, batch)
        self.fails.op()
        first = self.timed("index.ingest", idx.add, self.read(add_path))
        self.fails.check(
            first == len(self.x), f"round {r}: add assigned first gid {first}"
        )
        self.x = np.concatenate([self.x, batch])
        self.live = np.concatenate([self.live, np.ones(len(batch), dtype=bool)])

    def expire(self, r: int, idx, n: int) -> None:
        """Delete the ``n`` oldest live gids."""
        expire = np.flatnonzero(self.live)[:n]
        self.fails.op()
        n_del = self.timed("maint.delete", idx.delete, [int(g) for g in expire])
        self.fails.check(
            n_del == len(expire), f"round {r}: deleted {n_del} of {len(expire)}"
        )
        self.live[expire] = False

    def vacuum(self, idx) -> None:
        """Vacuum every segment past the deleted-ratio gate."""
        from vectorsearch_spark.index.maintenance import vacuum_due

        for sid in vacuum_due(idx):
            self.fails.op()
            if self.timed("maint.vacuum", idx.vacuum, sid) and self.recording:
                self.maint["vacuums"] += 1

    def churn_round(self, r: int, idx, q, qdf) -> None:
        """Add, query, expire, build, vacuum, compact; ``self.x`` holds
        every vector ever added (row = gid) and ``self.live`` which of
        them are not deleted."""
        c = self.cfg
        # 1. ingest one segment's worth
        self.add_batch(r, idx)

        # 2. queries over sealed + PENDING segments
        ref_g, ref_d = exact_topk(self.x, self.live, q, c["k"])
        for span, params in (
            ("search.pq", self.SearchParams(ef=c["ef"])),
            ("search.exact", self.SearchParams(mode="BRUTE")),
        ):
            rows = self.search(span, idx, qdf, params)
            if rows is None:
                continue
            g, d = by_query(rows, len(q), c["k"], self.fails, span)
            self.fails.check(
                bool(np.all(self.live[g[g >= 0]])),
                f"round {r} {span}: returned a deleted gid",
            )
            if params.mode == "BRUTE":
                check_exact(g, d, ref_g, ref_d, self.fails, f"round {r} BRUTE")
            elif self.recording:
                self.recalls.append(recall(g, ref_g))

        # 3. expire as many of the oldest live gids as were added
        self.expire(r, idx, c["seg"])

        # 4. build what rotated
        self.fails.op()
        self.timed("index.build", idx.build)

        # 5. vacuum past the deleted-ratio gate
        self.vacuum(idx)

        # 6. compact whatever the planner proposes
        cands = idx.plan_compaction()
        if cands:
            self.fails.op()
            self.timed("maint.compact", idx.compact, cands)
            if self.recording:
                self.maint["compactions"] += 1

        registry_live = sum(
            s["count"] for s in idx._segment_rows() if s["state"] != "WRITING"
        )
        self.fails.check(
            registry_live == int(self.live.sum()),
            f"round {r}: registry holds {registry_live} live, expected {int(self.live.sum())}",
        )

    # -- results ---------------------------------------------------------
    def summary(self, setup_s, build_s, n_built, idx, live, x, cycles) -> dict:
        s = self.samples
        med = statistics.median
        index_bytes, _ = dir_bytes(idx.path)
        raw = int(live.sum()) * x.shape[1] * 4
        auto_q = self.cfg["queries"]
        return {
            "setup_s": setup_s,
            "build_vps": n_built / build_s,
            "space_amp": index_bytes / raw,
            "query_qps": auto_q * len(s["search.pq"]) / sum(s["search.pq"]),
            "query_batch_p50_s": med(s["search.pq"]),
            "exact_qps": auto_q * len(s["search.exact"]) / sum(s["search.exact"]),
            "recall_at_10": statistics.fmean(self.recalls) if self.recalls else 0.0,
            "cycle_p50_s": med(s["cycle"]),
            "cycles": cycles,
        }


def kernels(cfg: dict, seed: int) -> dict:
    """Traced runs only: the PQ and graph kernels called directly on one
    generated segment and the query batch (median of repeats)."""
    from vectorsearch_spark.config import IndexConfig
    from vectorsearch_spark.operators.graph import build_graph
    from vectorsearch_spark.operators.pq import (
        approx_distances,
        build_lut,
        encode,
        train_codebook,
    )

    ic = IndexConfig(name="k", dimension=cfg["d"], max_segment_size=cfg["seg"])
    x = gen.gaussian(seed, cfg["seg"], cfg["d"], gen.BASE).astype(np.float64)
    q = gen.gaussian(seed, cfg["queries"], cfg["d"], gen.QUERIES).astype(np.float64)

    def med_time(fn, reps=3):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls), out

    train_s, cb = med_time(lambda: train_codebook(x, ic.pq_m, ic.pq_k, ic.pq_iters, ic.seed))
    encode_s, codes = med_time(lambda: encode(x, cb))
    lut_s, luts = med_time(lambda: [build_lut(cb, qi) for qi in q])
    scan_s, _ = med_time(lambda: [approx_distances(codes, t) for t in luts])
    graph_s, _ = med_time(
        lambda: build_graph(x, ic.graph_degree, ic.graph_build_breadth, ic.graph_alpha, ic.seed),
        reps=1,
    )
    return {
        "pq.train_s": train_s,
        "pq.encode_s": encode_s,
        "pq.lut_us": lut_s / len(q) * 1e6,
        "pq.scan_ns_per_code": scan_s / (len(q) * len(codes)) * 1e9,
        "graph.build_s": graph_s,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("query", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="full", choices=sorted(SCALES))
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--eventlog", help="Spark event log dir (traced runs)")
    args = ap.parse_args()

    from vectorsearch_spark.metrics import get_metrics
    from vectorsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext if args.trace else None)
    os.makedirs(args.work, exist_ok=True)
    bench = Bench(args, spark, tracer, args.work)
    phases_before = dict(get_metrics(spark).snapshot())
    try:
        if args.workload == "query":
            result = bench.run_query()
        else:
            result = bench.run_churn()
        phases = {
            k: v - phases_before.get(k, 0)
            for k, v in get_metrics(spark).snapshot().items()
        }
        vec_b, vec_f = dir_bytes(f"{args.work}/index/vectors")
        art_b, art_f = dir_bytes(f"{args.work}/index/artifacts")
    finally:
        spark.stop()

    out = {
        "seed": args.seed,
        "e2e": result,
        "boot_s": boot_s,
        "attempted": bench.fails.attempted,
        "failed": bench.fails.failed,
        "failures": bench.fails.messages,
        "samples": bench.samples,
    }
    if args.trace:
        log = eventlog.parse(eventlog.find_log(args.eventlog))
        records = eventlog.rollup(tracer.spans, log, int(os.environ["SPARK_GRAFT_CPUS"]))
        out["trace"] = {
            "records": records,
            "spark": eventlog.totals(log),
            "build_tasks_s": eventlog.task_seconds(
                log, records, "index.build", "FlatMapGroupsInPandas"
            ),
            "maint": bench.maint,
            "graph": bench.graph,
            "phases": phases,
            "storage": {
                "vectors_bytes": vec_b,
                "artifacts_bytes": art_b,
                "files": vec_f + art_f,
            },
            "kernels": kernels(bench.cfg, args.seed),
        }
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
