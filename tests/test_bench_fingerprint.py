"""The bench harness's plan fingerprints and its job counter.

The fingerprint pass must never warm the engine: no Spark job may run
for a plan-hashable query, and a `stream_*` twin gets no fingerprint
without being drained. A query whose rebuild submits jobs has no
build-free plan and gets None. Jobs are counted in every job group:
a counter that misses grouped jobs (streaming micro-batches, anything
after `setJobGroup`) would hand an iterative query a `plan:` hash
that cannot see its build."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import __spark_entry__ as contract
from perfbench.common import total_jobs

SF = "/root/testdata/sf0.001"


def test_baseline_is_latest_record_with_same_cpus_and_sf(tmp_path):
    def record(n: int, **stamp) -> None:
        body = {**stamp, "queries": {"q": n}}
        (tmp_path / f"BENCH_DETAIL_r{n}.json").write_text(json.dumps(body))

    record(8, cpus=32, sf=0.1)
    record(9, cpus=32, sf=0.1)  # r9 < r10 < r11: numeric, not lexical
    record(10, cpus=4, sf=0.1)
    record(11, sf=0.1)  # no cpus stamp: never a baseline
    record(12, cpus=32)  # no sf stamp: never a baseline
    record(13, cpus=32, sf=0.01)
    (tmp_path / "BENCH_r14.json").write_text("{}")  # not a detail record

    def pick(cpus, sf):
        rec = bench._latest_detail(str(tmp_path), cpus, sf)
        return rec and rec["queries"]["q"]

    assert pick(32, 0.1) == 9
    assert pick(4, 0.1) == 10
    assert pick(32, 0.01) == 13
    assert pick(8, 0.1) is None
    assert pick(4, 0.01) is None


def test_job_counter_sees_jobs_in_a_job_group(spark):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    prev_interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    j0 = total_jobs(spark)
    try:
        sc.setJobGroup("bench-counter-test", "grouped job")
        spark.range(10).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", prev_desc)
        sc.setLocalProperty("spark.job.interruptOnCancel", prev_interrupt)
    assert total_jobs(spark) - j0 >= 1
    assert sc.getLocalProperty("spark.jobGroup.id") == prev


def test_plan_hash_runs_zero_jobs_for_plain_queries(spark):
    qs = contract.queries()
    for name in ["q1_wordcount", "pricing_summary", "doc_stats"]:
        # first call may pay the session's one-off parquet
        # schema/footer job for a not-yet-seen table; steady state
        # (every later call) must be job-free
        h = bench._plan_hash(qs[name], name, spark, SF)
        j0 = total_jobs(spark)
        h2 = bench._plan_hash(qs[name], name, spark, SF)
        assert total_jobs(spark) == j0, name
        assert h2 == h and h.startswith("plan:")


def test_plan_hash_detects_and_then_skips_build_executing_queries(spark):
    qs = contract.queries()
    # markov_attribution collects its constant-size pivot at build
    # time; events_ljung_box is the cheapest of the iterative builds
    # that the group-blind status-tracker count used to miss. Neither
    # has a build-free plan.
    for name in ["markov_attribution", "events_ljung_box"]:
        assert bench._plan_hash(qs[name], name, spark, SF) is None, name


def test_streaming_queries_get_no_hash_without_executing(spark):
    qs = contract.queries()
    j0 = total_jobs(spark)
    h = bench._plan_hash(qs["stream_wordcount"], "stream_wordcount", spark, SF)
    assert total_jobs(spark) == j0
    assert h is None
