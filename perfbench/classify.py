"""One-off pool classifier: sorts every registered query into exactly
one benchmark pool and freezes the result in `perfbench/pools.json`.

    python3 perfbench/classify.py            # measure (resumable), then freeze
    python3 perfbench/classify.py sf         # measure one phase only (sf | x10)
    python3 perfbench/classify.py freeze     # rebuild pools.json from the log

Rules, measured on the sf0.1 test tables (`perfbench/data/sf0.1`):

- `stream_drain`: the `stream_*` twins.
- `iterative`: other queries whose DataFrame build submits at least one
  Spark job on a *warm* rebuild (second build in the same process, so
  per-process index/codebook/layout caches are already filled), counted
  across all job groups.
- `adhoc`: the rest; their warm build submits no job.
- `bulk_10x` (a subset of `adhoc`): warm wall on the 10x replica is at
  least twice the sf0.1 wall.

The measurement log is `.bench_build/perfbench/classify.jsonl`.
`prewarm` lists the queries whose cold build submitted more jobs than
their warm one after every table was touched (a per-process cache
filled); the benchmark's set-up pays that first build. Freezing the pools means a later change cannot move a query between
workloads; `run.py` re-checks that the pools partition the registry.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

LOG = os.path.join(common.WORK, "classify.jsonl")
QUERY_TIMEOUT_S = 180
#: reference lap length (s) the laps of the undeclared workloads are
#: cut to (see `laps()`)
LAP_S = {"iterative": 10.0, "bulk_10x": 10.0}
#: the three applications Crane's report measures (word count, Reddit
#: top users, NASA host report); the adhoc lap is these plus the adhoc
#: pool's median-wall query. The stream_drain lap is the streaming twins
#: of word count and the host report: a run must hold twenty calls, a
#: twin costs about two seconds, and a third twin's cold oracle check
#: and calls do not fit the benchmark's time budget.
PAPER_APPS = ["q1_wordcount", "q2_top_users", "q3_host_report"]
STREAM_LAP = ["stream_wordcount", "stream_host_report"]


def _log(rec: dict) -> None:
    with open(LOG, "a") as f:
        f.write(json.dumps(rec) + "\n")


def _read_log() -> dict[tuple[str, str], dict]:
    out: dict[tuple[str, str], dict] = {}
    if os.path.exists(LOG):
        with open(LOG) as f:
            for line in f:
                rec = json.loads(line)
                key = (rec["phase"], rec["name"])
                if rec.get("status") == "started" and key in out:
                    continue
                out[key] = rec
    return out


def _measure(phase: str) -> None:
    import __spark_entry__ as contract

    import datagen

    datagen.ensure(x10=phase == "x10")
    sf_dir = common.X10 if phase == "x10" else common.SF01
    done = _read_log()
    queries = contract.queries()
    if phase == "x10":
        names = [
            n for n in queries
            if done.get(("sf", n), {}).get("warm_jobs") == 0 and not n.startswith("stream_")
        ]
    else:
        names = list(queries)
    todo = [n for n in names if done.get((phase, n), {}).get("status") != "done"]
    for n in todo:
        if done.get((phase, n), {}).get("status") == "started":
            # the previous process died inside this query
            _log({"phase": phase, "name": n, "status": "done", "error": "process died"})
    todo = [n for n in todo if done.get((phase, n), {}).get("status") != "started"]
    if not todo:
        return
    from stream_processing_system_spark.sources.tables import TABLES, load_table

    spark = common.start_spark("perfbench-classify")
    common.force(queries["q1_wordcount"](spark, sf_dir))
    for t in TABLES:  # first touch, as in the benchmark's set-up
        load_table(spark, sf_dir, t)
    for n in todo:
        _log({"phase": phase, "name": n, "status": "started"})
        rec = {"phase": phase, "name": n, "status": "done"}
        fn = queries[n]
        # a query that outgrows the budget at 10x is cancelled, logged as
        # an error and so left out of bulk_10x
        timer = threading.Timer(QUERY_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            j0 = common.total_jobs(spark)
            fn(spark, sf_dir)
            rec["cold_jobs"] = common.total_jobs(spark) - j0
            j0 = common.total_jobs(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            rec["warm_jobs"] = common.total_jobs(spark) - j0
            common.force(df)
            rec["build_s"] = round(t1 - t0, 4)
            rec["wall_s"] = round(time.perf_counter() - t0, 4)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            timer.cancel()
        _log(rec)
        print(json.dumps(rec), flush=True)
    spark.stop()


def laps(pools: dict, ref: dict[str, float], lap_s: dict[str, float]) -> dict[str, list[str]]:
    """Frozen run set per workload: the pool sorted by reference wall,
    then one pick at each of k evenly spaced quantiles (k grows until
    the picks' summed reference wall reaches the lap length), so a lap
    spans the pool's latency distribution instead of its cheap end."""
    out = {}
    for w, names in pools.items():
        ranked = sorted(names, key=lambda n: (ref[n], n))
        best = ranked[len(ranked) // 2: len(ranked) // 2 + 1]
        for k in range(1, len(ranked) + 1):
            picks = [ranked[min(len(ranked) - 1, int((i + 0.5) * len(ranked) / k))] for i in range(k)]
            picks = sorted(set(picks), key=picks.index)
            if sum(ref[n] for n in picks) > lap_s[w]:
                break
            best = picks
        out[w] = best
    return out


def freeze() -> None:
    sys.path.insert(0, common.ROOT)
    import __spark_entry__ as contract

    log = _read_log()
    names = list(contract.queries())
    sf = {n: log[("sf", n)] for n in names}
    bad = {n: r["error"] for n, r in sf.items() if r.get("error")}
    stream = [n for n in names if n.startswith("stream_")]
    iterative = [n for n in names if n not in stream and sf[n].get("warm_jobs", 0) > 0]
    adhoc = [n for n in names if n not in stream and n not in iterative]
    x10 = {n: log.get(("x10", n), {}) for n in adhoc}
    bulk = [n for n in adhoc if "wall_s" in x10[n] and x10[n]["wall_s"] >= 2 * sf[n]["wall_s"]]
    pools = {"adhoc": adhoc, "iterative": iterative, "stream_drain": stream, "bulk_10x": bulk}
    ref = {n: sf[n].get("wall_s", 0.0) for n in names}
    ref10 = {n: x10[n]["wall_s"] for n in bulk}
    ranked = sorted((n for n in adhoc if n not in PAPER_APPS), key=lambda n: (ref[n], n))
    median = ranked[len(ranked) // 2]
    out = {
        "rules": __doc__.split("Rules,")[1].split("The measurement log")[0].strip(),
        "pools": pools,
        "laps": laps({"iterative": iterative}, ref, LAP_S) | laps({"bulk_10x": bulk}, ref10, LAP_S)
        | {"adhoc": PAPER_APPS + [median], "stream_drain": STREAM_LAP},
        "prewarm": [n for n in names if sf[n].get("cold_jobs", 0) > sf[n].get("warm_jobs", 0)],
        "ref_wall_s": {"sf0.1": ref, "sf0.1x10": ref10},
        "warm_build_jobs": {n: sf[n].get("warm_jobs") for n in names},
        "classifier_failures": bad,
        "classifier_failures_x10": {n: r["error"] for n, r in x10.items() if r.get("error")},
    }
    with open(common.POOLS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print({w: len(p) for w, p in pools.items()}, {w: len(p) for w, p in out["laps"].items()},
          "failures:", bad)


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--child"]:
        _measure(args[1])
        return
    if args[:1] != ["freeze"]:
        os.makedirs(common.WORK, exist_ok=True)
        for phase in args or ("sf", "x10"):
            for _ in range(5):  # resume after a crashed JVM
                env = common.child_env(os.path.join(common.WORK, "tmp", "classify"))
                r = subprocess.run([sys.executable, __file__, "--child", phase], env=env)
                if r.returncode == 0:
                    break
        if args:
            return
    freeze()


if __name__ == "__main__":
    main()
