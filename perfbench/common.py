"""Shared plumbing for the benchmark runner and the pool classifier:
checkout paths, the process environment, session start, and the job
counters read from the Spark driver JVM."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything the benchmark writes lives here (git-ignored)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: the sf0.1 tables, committed; the 10x replica, built on first use
SF01 = os.path.join(HERE, "data", "sf0.1")
X10 = os.path.join(WORK, "data", "sf0.1x10")
POOLS = os.path.join(HERE, "pools.json")
CPUS = os.cpu_count() or 4
DRIVER_MEM = "3g"


def load_pools() -> dict:
    with open(POOLS) as f:
        return json.load(f)


def child_env(tmp: str) -> dict[str, str]:
    """Environment for a measuring process: the checkout on every
    Python import path (the Spark driver and its Python workers), and every
    temp/scratch directory under `tmp` so nothing lands outside the
    checkout."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, env.get("PYTHONPATH", "")] if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("OMP_NUM_THREADS", None)
    return env


def start_spark(app: str):
    """`session.get_spark` on local[CPUS], with JVM temp files and the
    warehouse kept under $TMPDIR."""
    from stream_processing_system_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name=app,
        cpus=CPUS,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def total_jobs(spark) -> int:
    """Jobs submitted so far in this SparkContext, in every job group
    (streaming micro-batch jobs run under their runId's group, which
    `statusTracker().getJobIdsForGroup(None)` does not see)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def oracle_error(df, sf_dir: str, sql: str) -> str | None:
    """None when `df` matches the DuckDB oracle under the exact
    canonicalisation of tests/oracle.py, else the mismatch message."""
    from tests.oracle import assert_matches_oracle

    try:
        assert_matches_oracle(df, sf_dir, sql)
    except Exception as e:  # mismatch or failure to collect
        return f"{type(e).__name__}: {str(e)[:300]}"
    return None
