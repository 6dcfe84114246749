"""Vector-index benchmark: one run of one workload.

    python3 perfbench/run.py --workload {query,churn} --seed N --seconds S --trace {0,1}

Run from the repository root. The launcher builds the environment the
run needs and owns nothing else:

- ``PYTHONPATH`` holds the repository root, so Spark's Python workers can
  import ``vectorsearch_spark`` from any working directory;
- ``SPARK_GRAFT_CPUS`` = nproc, so the program's own session factory runs
  ``local[nproc]``;
- Spark's scratch and temp dirs, the inputs and the index live under
  ``.perfbench_work/`` in the current directory;
- with ``--trace 1`` Spark's event log is switched on through
  ``PYSPARK_SUBMIT_ARGS`` (uncompressed, not rolling), which leaves the
  program's session config untouched.

It takes a host-speed calibration before and after the run, samples the
memory of the whole process tree (Python driver, JVM, Python workers)
from /proc, and prints every metric by name and unit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run reports the tracing
overhead against the last untraced run of the same workload, length and
scale that an invocation in this directory recorded under
``.perfbench_work/untraced/``; without one it makes one first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostinfo  # noqa: E402
import layers  # noqa: E402

WORKER_TIMEOUT_S = 170

# name → unit, in the report's order (BENCHMARK.json holds the bounds)
END_TO_END = {
    "setup_s": "s",
    "space_amp": "ratio",
    "query_qps": "1/s",
    "query_batch_p50_s": "s",
    "exact_qps": "1/s",
    "recall_at_10": "ratio",
    "cycle_p50_s": "s",
    "pss_p50_mb": "MB",
}

# names the workload gives its generic metrics in the report
ALIASES = {
    "churn": {
        "cycle_p50_s": "churn_round_p50_s",
        "query_batch_p50_s": "churn_query_p50_s",
    },
}


def worker_env(root: str, run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(hostinfo.nproc())
    env["PYTHONDONTWRITEBYTECODE"] = "1"  # write nothing beside installed packages
    # bounds the driver JVM's heap: peak memory is steadier at 2g than
    # at the session factory's 8g default, and the host is shared
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    env.pop("SPARK_MASTER", None)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{log_dir}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                "pyspark-shell",
            ]
        )
    return env


def run_worker(args, root: str, run_dir: str, trace: bool) -> tuple[dict, dict]:
    """Run one worker to completion; returns (its result, memory of the
    process tree sampled every 0.5 s: peak total and by kind, and the
    median total, in bytes; plus the host's steal ratio over the run).
    Raises RuntimeError when the worker fails or times out."""
    os.makedirs(run_dir)
    env = worker_env(root, run_dir, trace)
    out_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(int(trace)),
        "--scale", args.scale,
        "--work", os.path.join(run_dir, "data"),
        "--out", out_path,
    ]
    if trace:
        cmd += ["--eventlog", os.path.join(run_dir, "eventlog")]
    log_path = os.path.join(run_dir, "worker.log")
    memory = {"total": 0, "jvm": 0, "python": 0}  # peaks
    totals: list[int] = []
    cpu_before = hostinfo.cpu_times()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        # every process of the session, {pid: start time}, for the final stop
        seen: dict[int, int] = {}

        def note(pids: list[int]) -> None:
            for pid in pids:
                if pid not in seen and (t := hostinfo.start_time(pid)) is not None:
                    seen[pid] = t

        try:
            while proc.poll() is None:
                pids = hostinfo.tree_pids(proc.pid)
                note(pids)
                mem = hostinfo.tree_memory(pids)
                mem["total"] = mem["jvm"] + mem["python"]
                memory = {k: max(v, mem[k]) for k, v in memory.items()}
                totals.append(mem["total"])
                if time.monotonic() > deadline:
                    raise RuntimeError(f"worker exceeded {WORKER_TIMEOUT_S} s")
                time.sleep(0.5)
        finally:
            # stop the whole session (the JVM and Spark's Python daemons
            # run in process groups of their own) and wait for its end
            for pid, t in list(seen.items()):  # children forked since the last poll
                if hostinfo.start_time(pid) == t:
                    note(hostinfo.tree_pids(pid))
            seen.pop(proc.pid, None)
            proc.kill()
            proc.wait()
            left = hostinfo.kill_and_wait(seen)
            if left:
                raise RuntimeError(f"processes {left} outlived the run")
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.readlines()[-30:]
        raise RuntimeError(
            f"worker exited with {proc.returncode}:\n" + "".join(tail)
        )
    memory["p50_total"] = sorted(totals)[len(totals) // 2] if totals else 0
    memory["steal_ratio"] = hostinfo.steal_ratio(cpu_before, hostinfo.cpu_times())
    with open(out_path) as f:
        return json.load(f), memory


def report(workload: str, metrics: dict, units: dict) -> None:
    aliases = ALIASES.get(workload, {})
    for name, value in metrics.items():
        alias = f"  ({aliases[name]})" if name in aliases else ""
        print(f"  {name:<34} {value:>16.6g} {units[name]}{alias}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", default="full", choices=("full", "tiny"),
        help="input sizes; tiny is for the smoke test",
    )
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the worker's processes are
    # stopped by run_worker's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "vectorsearch_spark")):
        print(
            f"perfbench: no vectorsearch_spark package under {root}; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2

    work_root = os.path.join(root, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work_root, run_id)
    cache_dir = os.path.join(work_root, "untraced")
    cache = os.path.join(
        cache_dir, f"{args.workload}-{args.scale}-{args.seconds:g}.json"
    )
    calib_before = hostinfo.calibrate()
    print(f"calibration before: {json.dumps(calib_before)}")
    try:
        traced = plain = None
        cached = bool(args.trace) and os.path.exists(cache)
        if cached:
            with open(cache) as f:
                plain = json.load(f)
        else:
            plain, plain["memory"] = run_worker(
                args, root, os.path.join(run_dir, "plain"), False
            )
            os.makedirs(cache_dir, exist_ok=True)
            with open(cache, "w") as f:
                json.dump(plain, f)
        if args.trace:
            traced, traced_memory = run_worker(
                args, root, os.path.join(run_dir, "traced"), True
            )
            traced["steal_ratio"] = traced_memory["steal_ratio"]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        for sub in ("plain", "traced"):
            for part in ("data", "spark-local", "tmp"):
                shutil.rmtree(os.path.join(run_dir, sub, part), ignore_errors=True)
    calib_after = hostinfo.calibrate()
    print(f"calibration after:  {json.dumps(calib_after)}")

    e2e = dict(plain["e2e"])
    memory = plain["memory"]
    e2e["pss_p50_mb"] = memory["p50_total"] / 2**20
    e2e_metrics = {k: e2e[k] for k in END_TO_END}
    # a cached untraced run was counted by the invocation that made it
    attempted, failed = (0, 0) if cached else (plain["attempted"], plain["failed"])
    print(
        f"{'cached untraced run, ' if cached else ''}"
        f"{args.workload} seed={plain['seed']}: {e2e['cycles']} timed cycles in "
        f"{args.seconds:g} s; session start {plain['boot_s']:.2f} s; peak memory "
        f"JVM {memory['jvm'] / 2**20:.0f} MB, Python {memory['python'] / 2**20:.0f} MB; "
        f"host steal {memory['steal_ratio']:.1%}"
    )
    report(args.workload, e2e_metrics, END_TO_END)
    print(f"  {'build_vps':<34} {e2e['build_vps']:>16.6g} 1/s  (set-up add+build, not gated)")
    print(f"  {'failed_ops_ratio':<34} {plain['failed'] / plain['attempted']:>16.6g} ratio"
          f"  ({plain['failed']} of {plain['attempted']} operations)")
    for msg in plain["failures"]:
        print(f"  FAILED: {msg}")

    if traced is not None:
        attempted += traced["attempted"]
        failed += traced["failed"]
        for msg in traced["failures"]:
            print(f"  FAILED (traced): {msg}")
        per_layer = layers.per_layer(
            traced, plain, calib_before, calib_after
        )
        dump = os.path.join(run_dir, "trace.json")
        with open(dump, "w") as f:
            json.dump({"spans": traced["trace"]["records"], "per_layer": per_layer}, f)
        print(f"trace: {len(traced['trace']['records'])} spans -> {dump}")
        report(args.workload, per_layer, layers.UNITS)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e_metrics.items()}

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
