"""Gated A/B min-of-N: refuses to measure until the q1_wordcount
calibration probe certifies a quiet window (min-of-3 under a
threshold), then times the named queries min-of-N after a warm-up
each, and re-probes afterwards. Used for paired before/after
adjudication when the host's steal windows make ungated runs
unreliable; `inf 3` skips the gate and takes the plain quiet-window
re-measure (warm-up, min-of-3, bracketing q1_wordcount probes).

Run: python tools/quiet_ab.py <threshold> <n> <query> [...]
  → {"probe": s, "probe_after": s, "minN": {...}, "waited_s": s,
     "sf": dir}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from stream_processing_system_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def minn(fn, spark, n, warm=True) -> float:
    if warm:
        fn(spark, SF).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, SF).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    thr = float(sys.argv[1])
    n = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark(app_name="quiet-ab", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    t0 = time.perf_counter()
    probe = minn(qs["q1_wordcount"], spark, 3)
    while probe > thr:
        time.sleep(20)
        probe = minn(qs["q1_wordcount"], spark, 3, warm=False)
    waited = round(time.perf_counter() - t0, 1)
    out = {}
    for name in names:
        out[name] = minn(qs[name], spark, n)
    probe2 = minn(qs["q1_wordcount"], spark, 3, warm=False)
    print(
        json.dumps(
            {
                "probe": probe,
                "probe_after": probe2,
                "minN": out,
                "waited_s": waited,
                "sf": SF,
            }
        )
    )


if __name__ == "__main__":
    main()
