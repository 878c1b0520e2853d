"""Benchmark entry point.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Generates (or reuses) the benchmark tables, starts one fresh measuring
process (`worker.py`), and prints as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it is the full stamped record, which is also written to
`.bench_build/perfbench/records/`.

A workload is a closed loop with one client on local[<all cores>]: the
client calls each query of the workload's frozen lap (pools.json) in
an order drawn from `--seed`, forces it with a `noop` write, and only
then calls the next. It runs as many whole laps as fill `--seconds` at
the frozen reference speed (README.md explains why the count is fixed).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

T_START = time.time()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("adhoc", "iterative", "stream_drain", "bulk_10x")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "pass_frac": "frac",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.first_touch_s": "s",
    "sources.first_touch_jobs": "count",
    "similarity.ivf_build_s": "s",
    "similarity.pq_build_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "plans.build_driver_s": "s",
    "catalyst.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_frac": "frac",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "streaming.staging_s": "s",
    "streaming.batches": "count",
    "streaming.nodata_batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.addbatch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.sink_tables_left": "count",
    "plans.scratch_dirs_left": "count",
    "trace.overhead_frac": "frac",
    "bench.datagen_s": "s",
}
#: the whole run, all its processes included, must end within this
RUN_TIMEOUT_S = 170


def source_sha() -> str:
    """git HEAD when the checkout is a repository of its own, else a
    digest of the engine's source files."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=common.ROOT,
                           capture_output=True, text=True, timeout=10)
        lines = r.stdout.split()
        if r.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(common.ROOT):
            return lines[1]
    except OSError:
        pass
    h = hashlib.sha256()
    files = [os.path.join(common.ROOT, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(common.ROOT, "stream_processing_system_spark", "**", "*.py"),
                  recursive=True))
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "tree:" + h.hexdigest()[:16]


def run_worker(spec: dict, timeout_s: float) -> tuple[dict | None, int]:
    """Run one fresh worker process; return its result line (None when it
    failed) and the `spark_graft_*` dirs it left in its temp dir."""
    tmp = os.path.join(common.WORK, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    spec = dict(spec, t0=time.time())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(common.HERE, "worker.py"), json.dumps(spec)],
        cwd=common.ROOT, env=common.child_env(tmp),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        out, err = proc.communicate(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("worker timed out", file=sys.stderr)
        return None, 0
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_WORKER ")]
    scratch_left = len(glob.glob(os.path.join(tmp, "spark_graft_*")))
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return None, 0
    return json.loads(lines[-1].split(" ", 1)[1]), scratch_left


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(common.ROOT, "__spark_entry__.py")):
        print("no engine in this checkout (__spark_entry__.py missing)", file=sys.stderr)
        return 2

    import datagen

    os.makedirs(common.WORK, exist_ok=True)
    t = time.perf_counter()
    datagen.ensure(x10=a.workload == "bulk_10x")
    datagen_s = time.perf_counter() - t

    spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace}
    w, scratch_left = run_worker(spec, RUN_TIMEOUT_S - (time.time() - T_START))
    if w is None:
        return 1
    e2e = dict(w["e2e"])
    e2e = dict(w["e2e"])
    e2e["pass_frac"] = 1.0 - e2e.pop("failed_frac")
    layers = dict(w["layers"])
    layers["plans.scratch_dirs_left"] = scratch_left
    layers["bench.datagen_s"] = datagen_s
    wanted = PER_LAYER if a.trace else END_TO_END
    values = layers if a.trace else e2e
    missing = sorted(set(wanted) - set(values))
    if missing:
        print(f"worker did not report {missing}", file=sys.stderr)
        return 1
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in wanted.items()}
    correct = not w["checks"] and w["failed"] == 0
    record = {
        "stamp": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": common.CPUS, "sf": "0.1x10" if a.workload == "bulk_10x" else "0.1",
            "git_sha": source_sha(), "spark": w["spark_version"],
            "python": platform.python_version(), "time": T_START,
        },
        "e2e": e2e, "layers": layers,
        **{k: w[k] for k in ("checks", "attempted", "failed", "laps", "lap",
                             "samples", "lap_steal_frac", "per_query_s",
                             "plain_lap_walls_s", "traced_lap_walls_s", "calls_s",
                             "timeline_s")},
    }
    rec_dir = os.path.join(common.WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(T_START * 1000)}.json"
    with open(os.path.join(rec_dir, rec_name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": w["attempted"],
                      "failed": w["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
