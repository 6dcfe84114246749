"""Per-layer metrics of a traced run, by the repository's layers.

Every name is reported on every workload; a layer that a workload leaves
idle reads 0 there (no ``maint.*`` calls on ``query``, no ``search.graph``
on ``churn``).
"""

from __future__ import annotations

import statistics

# call spans: one per public VectorIndex call the benchmark makes
CALL_SPANS = (
    "index.ingest",     # add
    "index.build",      # build
    "search.pq",        # search, AUTO mode: PQ scan + exact re-rank
    "search.graph",     # search, GRAPH mode
    "search.exact",     # search, BRUTE mode: operators.knn top-k mapper
    "maint.delete",
    "maint.vacuum",
    "maint.compact",
)
# per call, except slot_idle_ratio (over all calls) and calls (a count)
CALL_FIELDS = {
    "calls": "count",
    "wall_s": "s",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "python_run_s": "s",
    "python_bytes_sent": "bytes",
    "shuffle_bytes": "bytes",
    "slot_idle_ratio": "ratio",
}
# phase timers the program keeps itself (vectorsearch_spark.metrics)
PHASES = (
    "index.build.write",
    "index.vacuum.vectors_rewrite",
    "index.vacuum.artifacts_rewrite",
    "index.compact.copy",
    "index.compact.rebuild",
    "index.compact.swap",
)

UNITS: dict[str, str] = {}
for _span in CALL_SPANS:
    for _field, _unit in CALL_FIELDS.items():
        UNITS[f"{_span}.{_field}"] = _unit
UNITS.update(
    {
        "build.task_max_s": "s",
        "build.task_p50_s": "s",
        "pq.train_s": "s",
        "pq.encode_s": "s",
        "pq.lut_us": "us",
        "pq.scan_ns_per_code": "ns",
        "graph.build_s": "s",
        "search.graph.qps": "1/s",
        "search.graph.recall_at_10": "ratio",
        "catalog.codebook_calls": "count",
        "catalog.codebook_hit_ratio": "ratio",
        "maint.vacuums": "count",
        "maint.compactions": "count",
        "maint.bytes_rewritten": "bytes",
        **{f"phase.{p}.wall_s": "s" for p in PHASES},
        "storage.vectors_bytes": "bytes",
        "storage.artifacts_bytes": "bytes",
        "storage.files": "count",
        "spark.gc_s": "s",
        "spark.spill_bytes": "bytes",
        "spark.python_start_s": "s",
        "trace.overhead_ratio": "ratio",
        "host.calib_before_ms": "ms",
        "host.calib_after_ms": "ms",
        "host.load1": "load",
        "host.steal_ratio": "ratio",
    }
)


def _call_rollup(records: list[dict], name: str) -> dict[str, float]:
    mine = [r for r in records if r["name"] == name]
    out = {f"{name}.{f}": 0.0 for f in CALL_FIELDS}
    if not mine:
        return out
    n = len(mine)
    out[f"{name}.calls"] = n
    for f in ("wall_s", "self_s", "driver_s", "jobs", "tasks", "cpu_s",
              "python_run_s", "python_bytes_sent", "shuffle_bytes"):
        out[f"{name}.{f}"] = sum(r[f] for r in mine) / n
    covered = sum(r["covered_s"] for r in mine)
    if covered:
        busy = sum(r["covered_s"] * (1 - r["slot_idle_ratio"]) for r in mine)
        out[f"{name}.slot_idle_ratio"] = 1 - busy / covered
    return out


def per_layer(traced: dict, plain: dict, calib_before: dict, calib_after: dict) -> dict:
    """``traced``/``plain``: the worker results of the traced run and of
    the untraced run with the same seed."""
    tr = traced["trace"]
    records = tr["records"]
    out: dict[str, float] = {}
    for name in CALL_SPANS:
        out.update(_call_rollup(records, name))

    tasks = tr["build_tasks_s"]
    out["build.task_max_s"] = max(tasks, default=0.0)
    out["build.task_p50_s"] = statistics.median(tasks) if tasks else 0.0
    out.update(tr["kernels"])

    graph = tr["graph"] or {}
    out["search.graph.qps"] = graph.get("qps", 0.0)
    out["search.graph.recall_at_10"] = graph.get("recall_at_10", 0.0)

    catalog = [r for r in records if r["name"] == "index.catalog"]
    out["catalog.codebook_calls"] = len(catalog)
    out["catalog.codebook_hit_ratio"] = (
        sum(1 for r in catalog if r["jobs"] == 0) / len(catalog) if catalog else 0.0
    )

    out["maint.vacuums"] = tr["maint"]["vacuums"]
    out["maint.compactions"] = tr["maint"]["compactions"]
    out["maint.bytes_rewritten"] = sum(
        r["output_bytes"] for r in records if r["name"].startswith("maint.")
    )
    for p in PHASES:
        out[f"phase.{p}.wall_s"] = tr["phases"].get(f"{p}.wall_ms", 0) / 1000

    for k, v in tr["storage"].items():
        out[f"storage.{k}"] = v
    for k, v in tr["spark"].items():
        out[f"spark.{k}"] = v

    out["trace.overhead_ratio"] = (
        traced["e2e"]["cycle_p50_s"] / plain["e2e"]["cycle_p50_s"] - 1
    )
    out["host.calib_before_ms"] = calib_before["calib_ms"]
    out["host.calib_after_ms"] = calib_after["calib_ms"]
    out["host.load1"] = calib_before["load1"]
    out["host.steal_ratio"] = traced["steal_ratio"]
    if set(out) != set(UNITS):
        raise RuntimeError(f"per-layer names out of step: {set(out) ^ set(UNITS)}")
    return out
