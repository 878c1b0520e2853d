"""Per-query profile: DataFrame BUILD wall (plan construction incl.
any eager localCheckpoints / driver-side training collects), EXECUTE
wall (noop sink), and the number of Spark jobs each phase submitted,
counted in every job group (streaming micro-batches run under their
query's group) — the decomposition that tells whether a slow query
is paying for driver round trips (many small jobs) or for one heavy job (shuffle /
compute), which picks the guide §1 vs §2 lever.

Run: python tools/profile_query.py <query> [<query> ...]
  → one JSON line per query:
    {"name": ..., "build_s": ..., "exec_s": ..., "jobs_build": N,
     "jobs_exec": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from perfbench.common import total_jobs
from stream_processing_system_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def profile(spark, qs, name: str) -> dict:
    # warm-up: codegen + parquet footer caches, so the profile
    # measures the plan, not first-touch JIT
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    j0 = total_jobs(spark)
    t0 = time.perf_counter()
    df = qs[name](spark, SF)
    t1 = time.perf_counter()
    j1 = total_jobs(spark)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    j2 = total_jobs(spark)
    return {
        "name": name,
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "jobs_build": j1 - j0,
        "jobs_exec": j2 - j1,
    }


def main() -> None:
    spark = get_spark(app_name="profile-query", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    for name in [a for a in sys.argv[1:] if not a.startswith("--")]:
        print(json.dumps(profile(spark, qs, name)), flush=True)


if __name__ == "__main__":
    main()
