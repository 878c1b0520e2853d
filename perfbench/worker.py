"""One measuring process: set-up, an untimed oracle check of every lap
query (which is also each lap plan's first execution), then the timed
closed-loop pass over warm plans. Started by `run.py` (one fresh process
per run); prints one `PERFBENCH_WORKER <json>` line.

Untraced (`--trace 0`) the pass is timing only. Traced (`--trace 1`)
the pass has one unrecorded lap, then twice the laps, plain and
instrumented alternating (P T T P ...), so `trace.overhead_frac` compares the two on the same
queries in the same process; the layer figures come from the
instrumented calls, which do the same work as the plain ones:

    build    fn(spark, sf_dir)                -> plans.*
    write    df.write.format("noop").save()   -> catalyst.* (the write's
             own analysis, optimization and planning, from its
             QueryExecution's tracker) and exec.* (the rest of the write)

Job, stage and task figures are read from the Spark driver's AppStatusStore
(it is kept with the UI disabled and sees every job group, streaming
micro-batches included); streaming progress comes from a
StreamingQueryListener and is credited to a query by runId; the write's
QueryExecution reaches the benchmark through a QueryExecutionListener.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import math
import os
import random
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

SIMILARITY_BUILDS = {"ivf_index_topk": "ivf", "pq_topk": "pq", "ivfpq_topk": "pq"}
WARMUP = "q1_wordcount"
#: the latency percentile reported, and the samples a run must hold
#: beyond it
PERCENTILE = 0.5
SAMPLES_BEYOND = 10
PHASES = ("analysis", "optimization", "planning")


def _iso_ms(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


class StreamEvents:
    """StreamingQueryListener sink: raw events, keyed later by runId."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.started: dict[str, float] = {}  # runId -> start epoch ms
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()
        ev = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, e):
                with ev.lock:
                    ev.started[str(e.runId)] = _iso_ms(e.timestamp)

            def onQueryProgress(self, e):
                p = e.progress
                row = {
                    "ts_ms": _iso_ms(p.timestamp),
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "addbatch_ms": p.durationMs.get("addBatch", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with ev.lock:
                    ev.progress.setdefault(str(p.runId), []).append(row)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with ev.lock:
                    ev.terminated.add(str(e.runId))

        spark.streams.addListener(_Listener())

    def settle(self, timeout_s: float = 15.0) -> None:
        """Wait until every started query has reported termination."""
        end = time.time() + timeout_s
        while time.time() < end:
            with self.lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.05)


class WritePhases:
    """QueryExecutionListener sink: Catalyst phase times of every
    execution that ends, read from that execution's own tracker. A noop
    write runs its plan in a QueryExecution of its own, so this is where
    the write's optimization and planning are recorded."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.lock = threading.Lock()
        self.phases: list[dict[str, int]] = []
        sink = self

        class _Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                ph = qe.tracker().phases()
                row = {k: (ph.apply(k).durationMs() if ph.contains(k) else 0) for k in PHASES}
                with sink.lock:
                    sink.phases.append(row)

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        spark._jsparkSession.listenerManager().register(_Listener())

    def take(self) -> list[dict[str, int]]:
        with self.lock:
            out, self.phases = self.phases, []
        return out


class Status:
    """Job/stage figures from the Spark driver's AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()

    def settle(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, lo: int, hi: int) -> list[dict]:
        out = []
        for j in range(lo, hi):
            jd = self.store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                try:
                    sd = self.store.lastStageAttempt(it.next())
                except Py4JJavaError:  # a stage the store never saw (skipped)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numTasks(),
                    "run_ms": sd.executorRunTime(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "failed_tasks": sd.numFailedTasks(),
                })
            group = jd.jobGroup()
            out.append({
                "group": group.get() if group.isDefined() else None,
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "stages": stages,
            })
        return out


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def _cpu_jiffies() -> list[int] | None:
    """Aggregate CPU counters from /proc/stat (None off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def _steal_frac(a: list[int] | None, b: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main() -> None:
    args = json.loads(sys.argv[1])
    t_proc = args["t0"]
    workload, seed, seconds, trace = args["workload"], args["seed"], args["seconds"], args["trace"]
    pools = common.load_pools()
    lap = pools["laps"][workload]
    sf_dir = common.X10 if workload == "bulk_10x" else common.SF01
    layers: dict[str, float] = {}

    # ---- set-up: everything before the first timed query ----
    import __spark_entry__ as contract
    from stream_processing_system_spark.sources.tables import TABLES, load_table

    t = time.perf_counter()
    spark = common.start_spark(f"perfbench-{workload}")
    layers["session.start_s"] = time.perf_counter() - t
    status = Status(spark)
    events = StreamEvents(spark) if trace else None
    write_phases = WritePhases(spark) if trace else None
    queries = contract.queries()
    oracles = contract.oracle_sql()
    checks = []
    registered = set(queries)
    p = pools["pools"]
    parts = [set(p["adhoc"]), set(p["iterative"]), set(p["stream_drain"])]
    if sum(map(len, parts)) != len(set().union(*parts)) or set().union(*parts) != registered:
        checks.append("pools do not partition the registered queries")
    if not set(p["bulk_10x"]) <= parts[0]:
        checks.append("bulk_10x is not a subset of adhoc")

    j = common.total_jobs(spark)
    t = time.perf_counter()
    for name in TABLES:
        load_table(spark, sf_dir, name)
    layers["sources.first_touch_s"] = time.perf_counter() - t
    layers["sources.first_touch_jobs"] = common.total_jobs(spark) - j
    common.force(queries[WARMUP](spark, sf_dir))
    layers["similarity.ivf_build_s"] = layers["similarity.pq_build_s"] = 0.0
    built: set[str] = set()

    def build_similarity(name: str) -> None:
        t = time.perf_counter()
        queries[name](spark, sf_dir)
        layers[f"similarity.{SIMILARITY_BUILDS[name]}_build_s"] += time.perf_counter() - t
        built.add(name)

    for name in lap:
        if name in SIMILARITY_BUILDS:
            build_similarity(name)
        elif name in pools["prewarm"]:
            queries[name](spark, sf_dir)
    setup_s = time.time() - t_proc
    tables_before = len(spark.catalog.listTables())

    # ---- untimed oracle check: each lap query once, before the pass ----
    # (it is also each lap plan's first execution, so the timed pass
    # measures warm calls, as a long-lived session sees them)
    bad: set[str] = set()
    check_order = list(lap)
    random.Random(f"{seed}:check").shuffle(check_order)
    for name in check_order:
        try:
            err = common.oracle_error(queries[name](spark, sf_dir), sf_dir, oracles[name])
        except Exception as e:  # the build itself failed
            err = f"{type(e).__name__}: {str(e)[:200]}"
        if err:
            bad.add(name)
            checks.append(f"{name}: {err}")

    t_checked = time.time()

    # ---- timed closed loop: whole laps in seeded order ----
    # The lap count is fixed per workload: as many laps as fill
    # `seconds` at the frozen reference speed, and enough that the run
    # holds SAMPLES_BEYOND calls beyond the reported percentile. A run
    # then always does the same work, so retained heap and lap warmth
    # do not depend on how fast this build or this host happens to be.
    # Traced runs make one unrecorded lap (the first timed lap still runs
    # warmer plans than the check did), then half that many plain and
    # half that many instrumented laps alternating P T T P, so both kinds
    # see the same warmth.
    ref = pools["ref_wall_s"]["sf0.1x10" if workload == "bulk_10x" else "sf0.1"]
    lap_ref = sum(ref[n] for n in lap)
    if trace:  # reports no percentile, so needs no minimum sample count
        laps = 2 * math.ceil(seconds / 2 / lap_ref) + 1
    else:
        laps = max(math.ceil(seconds / lap_ref),
                   math.ceil(SAMPLES_BEYOND / (1 - PERCENTILE) / len(lap)))
    returned: dict[str, int] = {}  # calls that returned, per query
    traced: list[dict] = []
    plain: list[dict[str, float]] = []  # per lap: query -> latency
    traced_walls: list[float] = []
    lap_steal: list[float] = []
    failed = attempted = 0
    for n_lap in range(laps):
        order = list(lap)
        random.Random(f"{seed}:{n_lap}").shuffle(order)
        instrumented = bool(trace) and n_lap % 4 in (2, 3)
        lap_lat: dict[str, float] = {}
        cpu0 = _cpu_jiffies()
        for name in order:
            fn = queries[name]
            attempted += 1
            try:
                if instrumented:
                    rec = _traced_call(spark, status, write_phases, fn, sf_dir)
                    rec["name"] = name
                    traced.append(rec)
                    lap_lat[name] = rec["latency_s"]
                else:
                    t0 = time.perf_counter()
                    common.force(fn(spark, sf_dir))
                    lap_lat[name] = time.perf_counter() - t0
                returned[name] = returned.get(name, 0) + 1
            except Exception as e:
                failed += 1
                checks.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        steal = _steal_frac(cpu0, _cpu_jiffies())
        lap_steal.append(steal or 0.0)
        if instrumented:
            traced_walls.append(sum(lap_lat.values()))
        elif not trace or n_lap > 0:
            plain.append(lap_lat)
    t_passed = time.time()
    retained_mb, sink_tables_left = _retained(spark, tables_before)
    # a query whose output mismatched fails every call that returned
    failed += sum(returned.get(name, 0) for name in bad)
    lat: dict[str, list[float]] = {}
    for lap_lat in plain:
        for name, x in lap_lat.items():
            lat.setdefault(name, []).append(x)
    per_query = {n: statistics.median(xs) for n, xs in lat.items()}
    # the typical lap: each query at its median latency, so one disturbed
    # call moves neither wall_s nor the percentile much
    plain_wall = sum(per_query.values())

    # ---- traced layer accounting (after the pass, untimed) ----
    if trace:
        # the similarity caches the pool uses, when the lap did not build them
        for name in SIMILARITY_BUILDS:
            if name in p[workload] and name not in built:
                build_similarity(name)
        events.settle()
        if workload == "stream_drain":
            checks += _wordcount_selfcheck(spark, queries, sf_dir, status, write_phases, events,
                                           traced)
        layers.update(_layer_totals(events, traced, len(traced_walls)))
        layers["streaming.sink_tables_left"] = sink_tables_left
        layers["trace.overhead_frac"] = statistics.median(traced_walls) / plain_wall - 1.0

    samples = [x for xs in lat.values() for x in xs]
    beyond = sum(1 for x in samples if x > _quantile(samples, PERCENTILE))
    if beyond < SAMPLES_BEYOND and not trace:
        checks.append(f"only {beyond} samples beyond p{round(PERCENTILE * 100)}")
    out = {
        "checks": checks,
        "attempted": attempted,
        "failed": failed,
        "laps": laps,
        "lap": lap,
        "samples": len(samples),
        "lap_steal_frac": lap_steal,
        "e2e": {
            "setup_s": setup_s,
            "wall_s": plain_wall,
            "latency_p50_s": _quantile(samples, PERCENTILE),
            "failed_frac": failed / attempted,
            "retained_heap_mb": retained_mb,
        },
        "layers": layers,
        "plain_lap_walls_s": [sum(x.values()) for x in plain],
        "traced_lap_walls_s": traced_walls,
        "per_query_s": per_query,
        "calls_s": plain,
        # seconds from process spawn to the end of set-up, check, pass and heap probe
        "timeline_s": [round(t - t_proc, 2) for t in (t_proc + setup_s, t_checked, t_passed,
                                                     time.time())],
        "spark_version": spark.version,
    }
    print("PERFBENCH_WORKER " + json.dumps(out), flush=True)
    _shutdown(spark)


def _shutdown(spark) -> None:
    """Stop the session and wait for the Spark driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()


def _retained(spark, tables_before: int) -> tuple[float, int]:
    """JVM heap (MB) after a full GC, Python's Py4J proxies released
    first, and the number of catalog tables added since set-up. The
    pauses let Spark's ContextCleaner drop the broadcast blocks whose
    references the previous GC cleared, so the next GC frees them."""
    gc.collect()
    jvm = spark._jvm
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (heap.getHeapMemoryUsage().getUsed() / 2**20,
            len(spark.catalog.listTables()) - tables_before)


def _traced_call(spark, status: Status, write_phases: WritePhases, fn, sf_dir: str):
    """One instrumented call: the build and the noop write, each timed,
    then (untimed) the jobs each submitted and the write's Catalyst
    phases. Between the two the listener bus is drained, untimed, so the
    write's phases are told apart from executions the build ran."""
    j0 = common.total_jobs(spark)
    w0 = time.time() * 1000.0
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    w1 = time.time() * 1000.0
    j1 = common.total_jobs(spark)
    # the built DataFrame was analysed eagerly, inside the build
    ph = df._jdf.queryExecution().tracker().phases()
    analysis_ms = ph.apply("analysis").durationMs() if ph.contains("analysis") else 0
    status.settle()
    write_phases.take()
    t2 = time.perf_counter()
    common.force(df)
    t3 = time.perf_counter()
    status.settle()
    write = write_phases.take()
    catalyst_s = sum(sum(p.values()) for p in write) / 1000.0
    return {
        "build_s": t1 - t0, "catalyst_s": catalyst_s, "exec_s": t3 - t2 - catalyst_s,
        "latency_s": (t1 - t0) + (t3 - t2), "build_analysis_ms": analysis_ms,
        "write_phases_ms": {k: sum(p[k] for p in write) for k in PHASES},
        "build_jobs": status.jobs(j0, j1), "exec_jobs": status.jobs(j1, common.total_jobs(spark)),
        "window_ms": (w0, w1),
    }


def _layer_totals(events: StreamEvents, traced: list[dict], laps: int) -> dict[str, float]:
    """Per-lap layer figures: sums over the instrumented calls / laps."""
    out = dict.fromkeys([
        "plans.build_s", "plans.build_jobs", "plans.build_job_s", "plans.build_driver_s",
        "catalyst.s", "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
        "exec.shuffle_write_mb", "exec.spill_mb", "exec.failed_tasks",
        "streaming.staging_s", "streaming.batches", "streaming.nodata_batches",
        "streaming.trigger_ms", "streaming.addbatch_ms", "streaming.state_rows",
        "streaming.state_mem_mb", "latency_sum_s",
    ], 0.0)
    for r in traced:
        out["plans.build_s"] += r["build_s"]
        out["catalyst.s"] += r["catalyst_s"]
        out["exec.s"] += r["exec_s"]
        out["latency_sum_s"] += r["latency_s"]
        out["catalyst.analysis_ms"] += r["build_analysis_ms"] + r["write_phases_ms"]["analysis"]
        out["catalyst.optimization_ms"] += r["write_phases_ms"]["optimization"]
        out["catalyst.planning_ms"] += r["write_phases_ms"]["planning"]
        bjobs = r["build_jobs"]
        out["plans.build_jobs"] += len(bjobs)
        w0, w1 = r["window_ms"]
        out["plans.build_job_s"] += _union_ms(
            [(j["start_ms"], j["end_ms"] or w1) for j in bjobs if j["start_ms"]], w0, w1
        ) / 1000.0
        for j in r["exec_jobs"]:
            out["exec.jobs"] += 1
            for s in j["stages"]:
                out["exec.stages"] += 1
                out["exec.tasks"] += s["tasks"]
                out["exec.task_s"] += s["run_ms"] / 1000.0
                out["exec.shuffle_write_mb"] += s["shuffle_write"] / 2**20
                out["exec.spill_mb"] += s["spill"] / 2**20
                out["exec.failed_tasks"] += s["failed_tasks"]
        # streaming: every runId whose query started inside this build
        runs = [rid for rid, ts in events.started.items() if w0 <= ts <= w1]
        batches = [b for rid in runs for b in events.progress.get(rid, [])]
        if batches:
            out["streaming.staging_s"] += (min(b["ts_ms"] for b in batches) - w0) / 1000.0
        for rid in runs:
            prog = events.progress.get(rid, [])
            if prog:
                out["streaming.state_rows"] += prog[-1]["state_rows"]
                out["streaming.state_mem_mb"] += prog[-1]["state_bytes"] / 2**20
        for b in batches:
            out["streaming.batches"] += 1
            out["streaming.nodata_batches"] += b["rows"] == 0
            out["streaming.trigger_ms"] += b["trigger_ms"]
            out["streaming.addbatch_ms"] += b["addbatch_ms"]
    out = {k: v / laps for k, v in out.items()}
    out["plans.build_driver_s"] = out["plans.build_s"] - out["plans.build_job_s"]
    out["exec.busy_frac"] = (
        out["exec.task_s"] / (out["exec.s"] * common.CPUS) if out["exec.s"] else 0.0
    )
    return out


def _wordcount_selfcheck(spark, queries, sf_dir, status, write_phases, events,
                         traced) -> list[str]:
    """`stream_wordcount` must report at least one micro-batch, and the
    jobs that batch ran must be counted under its runId."""
    rec = next((r for r in traced if r["name"] == "stream_wordcount"), None)
    if rec is None:
        rec = _traced_call(spark, status, write_phases, queries["stream_wordcount"], sf_dir)
        events.settle()
    w0, w1 = rec["window_ms"]
    runs = [rid for rid, ts in events.started.items() if w0 <= ts <= w1]
    batches = sum(len(events.progress.get(rid, [])) for rid in runs)
    jobs = [j for j in rec["build_jobs"] if j["group"] in runs]
    if batches < 1 or not jobs:
        return [f"stream_wordcount self-check: {batches} micro-batches, {len(jobs)} batch jobs"]
    return []


if __name__ == "__main__":
    main()
